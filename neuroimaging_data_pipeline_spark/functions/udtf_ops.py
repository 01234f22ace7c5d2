"""Python UDTF surface (SURVEY.md §2.10 — the generalized
table-generating extension point).

The reference's table-generating patterns (interval -> TR rows at
ssm_loop.py:43; 4-D volume -> long rows at ssm_loop.py:69) are served
by the range join (J2) and the ``map_batches`` volume source (S5) on the
hot paths. The UDTF here is the *extensibility* surface for shapes
neither covers: arbitrary per-row expansion with Python logic, run
executor-side via ``F.udtf`` / lateral join.

``IntervalToGrid`` is the reference shape as a UDTF: one (onset,
duration) row expands to its covered grid ticks. Used where the
event set is too irregular for the broadcast range join (e.g. a
per-row adaptive sampling rate); the range-join operator remains the
default — the UDTF is row-at-a-time Python and deliberately lives off
the hot path.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="t: int, t_sec: double, coverage: double")
class IntervalToGrid:
    """Expand one [onset, onset+duration) interval into grid ticks.

    For each TR tick t with t*tr in the interval, emits the tick index,
    its time, and the fraction of the tick covered (partial-tick
    coverage at the interval edges — finer than the boxcar's 0/1,
    something the pure range-join form doesn't compute).
    """

    def eval(self, onset: float, duration: float, tr: float):  # noqa: D102
        if onset is None or duration is None:
            return
        # SQL numeric literals arrive as Decimal; coerce once.
        onset, duration, tr = float(onset), float(duration), float(tr)
        if duration <= 0 or tr <= 0:
            return
        end = onset + duration
        t = int(onset // tr)
        while t * tr < end:
            tick_start, tick_end = t * tr, (t + 1) * tr
            covered = min(end, tick_end) - max(onset, tick_start)
            if covered > 0:
                yield t, t * tr, round(covered / tr, 9)
            t += 1
