"""Arbitrary stateful streaming spike detection (SURVEY.md §2.9).

The stream-shaped twin of ``operators/spikes.py``: per-key running
moments (Welford) carried across micro-batches; each arriving value is
z-scored against the state BEFORE it updates the state, so a spike is
judged only against history, never against itself.

Every operator here runs on ``applyInPandasWithState`` (the stable
GroupState API), which needs no dependency beyond pyspark's own.

Scale: state = three doubles per key, shuffle-partitioned by key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SPIKE_OUTPUT_SCHEMA = (
    "user_id long, event_id long, value double, z double, is_spike int"
)


def _judge_and_update(pdf, id_col, value_col, key_val, key, n, mean, m2,
                      cutoff, min_history):
    """Shared per-batch kernel: z vs prior history, then Welford update.
    Returns (rows, n, mean, m2)."""
    import math

    out = []
    pdf = pdf.sort_values(id_col)  # deterministic within-batch order
    for vid, v in zip(pdf[id_col], pdf[value_col]):
        v = float(v)
        if n >= min_history and m2 > 0:
            sd = math.sqrt(m2 / (n - 1))
            z = (v - mean) / sd
            spike = int(abs(z) > cutoff)
        else:
            z, spike = None, 0
        n += 1
        d = v - mean
        mean += d / n
        m2 += d * (v - mean)
        out.append((key_val, int(vid), v, z, spike))
    return out, n, mean, m2


def streaming_spike_flags(
    stream: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    cutoff: float = 3.0,
    min_history: int = 5,
) -> DataFrame:
    """Flag per-key value spikes against running history.

    Emits (key, id, value, z, is_spike) per input row; ``z`` is null
    until ``min_history`` prior values exist for the key.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key_tuple, pdf_iter, state: GroupState):
        if state.exists:
            n, mean, m2 = state.get
        else:
            n, mean, m2 = 0, 0.0, 0.0
        rows = []
        for pdf in pdf_iter:
            out, n, mean, m2 = _judge_and_update(
                pdf, id_col, value_col, key_tuple[0], key, n, mean, m2,
                cutoff, min_history,
            )
            rows.extend(out)
        state.update((n, mean, m2))
        yield pd.DataFrame(
            rows, columns=[key, id_col, value_col, "z", "is_spike"]
        )

    return stream.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=SPIKE_OUTPUT_SCHEMA,
        stateStructType="n long, mean double, m2 double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _assign_sessions(pdf, id_col, ts_col, key_val, last_tus, sidx,
                     gap_us):
    """Shared kernel: gap-threshold session assignment over ONE
    key's WHOLE micro-batch in (ts, id) order, state carried in/out.
    Same ordering as the batch twin (queries/eventsops.py
    w10_sessionize), so on in-order input the stream reproduces it
    exactly. Callers MUST pass the key's full micro-batch in one
    DataFrame (concat the Arrow chunks first): sorting per chunk
    would mis-session any key whose batch spans multiple chunks."""
    out = []
    pdf = pdf.sort_values([ts_col, id_col])
    for eid, tus in zip(pdf[id_col], pdf[ts_col]):
        tus = int(tus)
        if last_tus is None or tus - last_tus > gap_us:
            sidx += 1
        out.append((key_val, int(eid), tus, sidx))
        last_tus = tus
    return out, last_tus, sidx


def streaming_sessionize(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "tus",
    id_col: str = "event_id",
    gap_us: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Per-EVENT session-ID assignment as a live stateful stream —
    the streaming twin of ``queries/eventsops.py w10_sessionize``:
    state is (last event time, session counter) per key, carried
    across micro-batches, so a session spanning a batch boundary
    keeps its id and a cross-batch gap opens a new one. Unlike
    ``session_window`` (per-SESSION aggregates), this labels every
    event — the join-back shape.

    Input needs a ``tus`` epoch-microseconds long column (the footer-
    probed ingest provides event time; callers convert with
    unix_micros). State: two longs per key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key_tuple, pdf_iter, state: GroupState):
        if state.exists:
            last_tus, sidx = state.get
        else:
            last_tus, sidx = None, 0
        # concat ALL Arrow chunks before sorting: a key whose batch
        # spans chunks would otherwise be sessionized per chunk in
        # arbitrary shuffle order
        chunks = [pdf for pdf in pdf_iter]
        if not chunks:  # timeout invocations carry no rows
            return
        batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        rows, last_tus, sidx = _assign_sessions(
            batch, id_col, ts_col, key_tuple[0], last_tus, sidx, gap_us
        )
        state.update((last_tus, sidx))
        yield pd.DataFrame(
            rows, columns=[key, id_col, ts_col, "session_idx"]
        )

    schema = (
        f"{key} long, {id_col} long, {ts_col} long, session_idx long"
    )
    return stream.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=schema,
        stateStructType="last_tus long, sidx long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TREND_OUTPUT_SCHEMA = (
    "event_type string, best_user long, best_est long, n_seen long"
)


def streaming_trending(
    stream: DataFrame,
    key: str = "event_type",
    value_col: str = "user_id",
) -> DataFrame:
    """THIRD custom stateful operator: streaming trending-key
    detection with BOUNDED sketch state. Per key group, the state is
    a count-min sketch (operators/sketches.py geometry: CMS_D x CMS_W
    counters, 'cms:'-salted md5 positions — byte-identical to the
    batch operator) plus the running (best_user, best_est) champion.
    Each micro-batch folds its rows into the counters, re-estimates
    only the users SEEN in that batch (the candidate-tracking trick
    that makes CMS usable for top-k: the champion can only change on
    an arrival), and emits one row per (key, batch) with the current
    champion. State stays CMS_D*CMS_W longs per key FOREVER —
    unbounded stream, bounded memory, the property that makes this
    deployable where an exact per-user count map would grow without
    limit. GroupState API (applyInPandasWithState); estimates are
    over-estimates only, exactly as in the batch operator."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from neuroimaging_data_pipeline_spark.operators.sketches import (
        CMS_D,
        CMS_W,
    )

    def positions(u) -> list[int]:
        h = hashlib.md5(f"cms:{u}".encode()).hexdigest()
        return [int(h[4 * d : 4 * d + 4], 16) % CMS_W for d in range(CMS_D)]

    def fn(key_tuple, pdf_iter, state: GroupState):
        if state.exists:
            flat, best_user, best_est, n_seen = state.get
            counts = np.asarray(flat, dtype=np.int64).reshape(CMS_D, CMS_W)
        else:
            counts = np.zeros((CMS_D, CMS_W), dtype=np.int64)
            best_user, best_est, n_seen = -1, 0, 0
        batch_users: set[int] = set()
        for pdf in pdf_iter:
            for u in pdf[value_col]:
                u = int(u)
                batch_users.add(u)
                n_seen += 1
                for d, p in enumerate(positions(u)):
                    counts[d, p] += 1
        for u in sorted(batch_users):
            est = int(min(counts[d, p] for d, p in enumerate(positions(u))))
            if est > best_est or (est == best_est and u < best_user):
                best_user, best_est = u, est
        state.update(
            ([int(x) for x in counts.reshape(-1)], best_user, best_est, n_seen)
        )
        yield pd.DataFrame(
            [(key_tuple[0], best_user, best_est, n_seen)],
            columns=[key, "best_user", "best_est", "n_seen"],
        )

    return stream.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=TREND_OUTPUT_SCHEMA,
        stateStructType=(
            "flat array<long>, best_user long, best_est long, n_seen long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
