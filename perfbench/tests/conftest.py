import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
# the benchmark's modules import each other as top-level modules, as
# they do when perfbench/run.py is the script; the engine is at the root
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]
