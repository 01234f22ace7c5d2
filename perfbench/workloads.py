"""The benchmark's workloads: a fixed call list and input scale each.

Every call is a registered query function ``fn(spark, sf_dir)`` from
``__spark_entry__.queries()``, except ``cohort_mass_ols``: the
reference's own computation, a seeded mini-cohort fitted with
``operators.ols.mass_ols`` in the ``tools/bench_cohort.py`` shape.
Row counts are fixed per workload; only the seed-drawn values differ.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from datagen import Scale

N_TR = 296
N_REG = 40
COHORT_SUBJECTS = 2
COHORT_VOXELS = 4096
#: voxels per subject whose betas are re-fitted with numpy lstsq
COHORT_CHECKED = 4


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    scale: Scale = field(default_factory=Scale)
    cohort: bool = False


# Two workloads fit the run budget (perfbench/README.md). Each mechanism
# an optimization may touch is exercised by one and bypassed by the other.
WORKLOADS = {
    w.name: w
    for w in (
        # the paper's GLM and two codec kernels: Arrow-batch Python-worker
        # work that leaves no cache pins (codec inputs grow with documents)
        Workload(
            "neuro_media",
            ("m44_h264_longgop", "m30_flac_stereo"),
            scale=Scale(documents=16),
            cohort=True,
        ),
        # the calls whose persist() outlives them (2 + 1 pins per pass);
        # JVM-only, so the control for any Python-worker change
        Workload(
            "corpus_dedup",
            ("d_ngram_jaccard", "t_kn_bigram"),
            scale=Scale(documents=32),
        ),
    )
}


class Cohort:
    """Seeded mass-OLS cohort: subjects x voxels x 296 TRs, 40 regressors.

    Values are generated JVM-side from ``spark.range`` (no parquet
    staging), so the call times the operator rather than a scan; the
    same closed form is evaluated in numpy for verification.
    """

    name = "cohort_mass_ols"

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 7])
        # distinct frequencies below Nyquist keep the design well conditioned
        self.freq = np.pi * np.arange(1, N_REG) / (N_REG + 1)
        self.phase = rng.uniform(0.0, np.pi, N_REG - 1)
        self.a = float(rng.uniform(0.5, 1.5))
        self.c = float(rng.uniform(0.0, 1.0))
        self.checked = rng.choice(COHORT_VOXELS, COHORT_CHECKED, replace=False)
        self.regressors = ["intercept"] + [f"r{j}" for j in range(N_REG - 1)]

    @property
    def voxels(self) -> int:
        return COHORT_SUBJECTS * COHORT_VOXELS

    def design_matrix(self) -> np.ndarray:
        t = np.arange(N_TR, dtype=np.float64)[:, None]
        return np.hstack([np.ones((N_TR, 1)), np.cos(self.freq * t + self.phase)])

    def values(self, subject: int, voxel: int) -> np.ndarray:
        ids = subject + COHORT_SUBJECTS * (np.arange(N_TR) + N_TR * voxel)
        return np.sin((ids % 97) * self.a + self.c) + 0.01 * (ids % 13)

    def build(self, spark, sf_dir):
        import pandas as pd
        from pyspark.sql import functions as F

        from neuroimaging_data_pipeline_spark.operators.ols import mass_ols

        x = self.design_matrix()
        frames = []
        for s in range(COHORT_SUBJECTS):
            d = pd.DataFrame(x, columns=self.regressors)
            d.insert(0, "t", np.arange(N_TR))
            d.insert(0, "run", 0)
            d.insert(0, "subject", f"sub-{s:03d}")
            frames.append(d)
        n = COHORT_SUBJECTS
        idc = F.col("id")
        values = spark.range(n * COHORT_VOXELS * N_TR).select(
            F.concat(F.lit("sub-"), F.lpad((idc % n).cast("string"), 3, "0"))
            .alias("subject"),
            F.lit(0).alias("run"),
            ((idc / n).cast("long") % N_TR).alias("t"),
            (idc / (n * N_TR)).cast("long").alias("voxel_id"),
            (F.sin((idc % 97) * self.a + self.c) + 0.01 * (idc % 13)).alias("value"),
        )
        return mass_ols(values, pd.concat(frames, ignore_index=True), self.regressors)

    def verify(self, spark) -> str | None:
        """Re-fit the sampled voxels with numpy; a problem string or None."""
        from pyspark.sql import functions as F

        rows = (
            self.build(spark, None)
            .where(F.col("voxel_id").isin([int(v) for v in self.checked]))
            .select("subject", "voxel_id", "regressor", "beta")
            .collect()
        )
        got = {(r.subject, r.voxel_id, r.regressor): r.beta for r in rows}
        want_n = COHORT_SUBJECTS * COHORT_CHECKED * N_REG
        if len(got) != want_n:
            return f"cohort: {len(got)} betas for the sampled voxels, want {want_n}"
        x = self.design_matrix()
        for s in range(COHORT_SUBJECTS):
            for v in self.checked:
                beta = np.linalg.lstsq(x, self.values(s, int(v)), rcond=None)[0]
                for name, b in zip(self.regressors, beta):
                    g = got[(f"sub-{s:03d}", int(v), name)]
                    if not abs(g - b) <= 1e-6 * max(1.0, abs(b)):
                        return f"cohort: beta {name} of sub-{s:03d}/{v} is {g}, lstsq {b}"
        return None


QueryFn = Callable[[object, str], object]


def call_list(workload: Workload, seed: int) -> tuple[list[tuple[str, QueryFn]], Cohort | None]:
    """The workload's calls in the seed's order, and its cohort if any."""
    import __spark_entry__ as entry

    registry = entry.queries()
    calls: list[tuple[str, QueryFn]] = [(q, registry[q]) for q in workload.queries]
    cohort = Cohort(seed) if workload.cohort else None
    if cohort is not None:
        calls.append((cohort.name, cohort.build))
    order = np.random.default_rng([seed, 11]).permutation(len(calls))
    return [calls[i] for i in order], cohort
