"""Reference-shaped bench (BASELINE.md): mini-cohort mass OLS.

Workload mirrors the reference's flagship shape (ssm_loop.py:91 at
cohort scale): N subjects x V voxels x 296 TRs, design width 40.
Values are generated distributed (spark.range — no parquet staging, so
the number is the operator, not the generator+scan) and fitted with
operators.ols.mass_ols. Reports voxels/sec and sec/subject on
local[4], mirroring the reference's DOP=4 (convert2BIDS.sh:19).

Usage: python tools/bench_cohort.py [n_subjects] [n_voxels]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

N_TR = 296
K = 40


def main() -> None:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from neuroimaging_data_pipeline_spark.operators.ols import mass_ols
    from neuroimaging_data_pipeline_spark.session import get_spark

    n_subjects = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    n_voxels = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000

    spark = get_spark(app_name="ndp-cohort-bench", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic design: 40 cols of shifted cosines + intercept
    rows = []
    for t in range(N_TR):
        rows.append(
            [t]
            + [1.0]
            + [float(np.cos(0.1 * (j + 1) * t + 0.3 * j)) for j in range(K - 1)]
        )
    reg = ["intercept"] + [f"r{j}" for j in range(K - 1)]
    design = pd.DataFrame(rows, columns=["t", *reg])
    frames = []
    for s in range(n_subjects):
        d = design.copy()
        d.insert(0, "run", 0)
        d.insert(0, "subject", f"sub-{s:03d}")
        frames.append(d)
    design_all = pd.concat(frames, ignore_index=True)

    # distributed synthetic values: value = f(subject, voxel, t), JVM-side
    values = (
        spark.range(n_subjects * n_voxels * N_TR)
        .select(
            F.concat(
                F.lit("sub-"),
                F.lpad((F.col("id") % n_subjects).cast("string"), 3, "0"),
            ).alias("subject"),
            F.lit(0).alias("run"),
            ((F.col("id") / n_subjects).cast("long") % N_TR).alias("t"),
            (
                (F.col("id") / (n_subjects * N_TR)).cast("long") % n_voxels
            ).alias("voxel_id"),
            (
                F.sin(F.col("id") % 97) + 0.01 * (F.col("id") % 13)
            ).alias("value"),
        )
    )

    t0 = time.time()
    stats = mass_ols(values, design_all, reg)
    stats.write.format("noop").mode("overwrite").save()
    elapsed = time.time() - t0

    total_vox = n_subjects * n_voxels
    print(
        json.dumps(
            {
                "metric": "cohort_mass_ols",
                "n_subjects": n_subjects,
                "n_voxels": n_voxels,
                "n_tr": N_TR,
                "design_width": K,
                "value": round(elapsed, 3),
                "unit": "sec",
                "voxels_per_sec": round(total_vox / elapsed, 1),
                "sec_per_subject": round(elapsed / n_subjects, 3),
                "master": "local[4]",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
