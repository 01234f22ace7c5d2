"""An eager stand-in for the few DataFrame methods the fixture builders
call, so their Python bodies run on one in-memory batch without a
SparkSession: ``select`` by column name and ``mapInArrow`` fed one
``pa.RecordBatch`` (the ``functions.rowmap`` boundary, which both
``map_rows`` and ``map_batches`` run on). Each call returns a new
``EagerDF`` over the output; ``.pdf`` holds it as pandas."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa


class EagerDF:
    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def select(self, *cols: str) -> EagerDF:
        return EagerDF(self.pdf[list(cols)])

    def mapInArrow(self, fn, _schema) -> EagerDF:
        batch = pa.RecordBatch.from_pandas(self.pdf, preserve_index=False)
        outs = list(fn(iter([batch])))
        return EagerDF(
            pa.Table.from_batches(outs).to_pandas() if outs else pd.DataFrame()
        )
