"""Ingest-boundary coverage: TSV scan (S1) and the reference's E3
cohort-QA pipeline composed end-to-end.

The reference reads every tabular input as TSV with ``n/a`` nulls
(``ssm_loop.py:41,72``; ``fmriprep_motion_hist.R:29`` —
``read.table(sep='\\t', header=TRUE, na.strings='n/a')``), then E3
(fmriprep_motion_hist.R:21-44) selects ``starts_with('motion_outlier')``
columns per subject, counts them, and bins the counts into a
histogram. Here the same dataflow runs on a deterministic TSV fixture
written at import time so both engines (Spark and the DuckDB oracle)
scan the identical file: scan → unpivot (dynamic column family ->
long, SURVEY.md §1.3) → name-predicate filter (P2) → per-subject agg
(A4) → binned histogram join-back (A5).

At scale the TSV scan is one ``spark.read.csv`` over a glob of
thousands of per-subject files with ``input_file_name()`` providing
the subject entity — schema-normalized to long at the boundary so the
per-file dynamic ``motion_outlierNN`` family never leaks inward.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.functions.stats import dec_avg, dec_sum

_MOTION_COLS = ["motion_outlier00", "motion_outlier01", "motion_outlier02"]
_SUBJECTS = ["sub-001", "sub-002", "sub-003"]
_N_T = 8

_FIXTURE_PATH = os.path.join(
    tempfile.gettempdir(), "ndp_spark_fixtures", "confounds.tsv"
)


def _write_fixture() -> str:
    """Deterministic confounds TSV: 3 subjects x 8 TRs, one-hot
    motion-outlier columns, csf with 'n/a' nulls every 4th row.
    Written lazily (write-if-missing) from the queries that read it —
    no import-time filesystem side effects (ADVICE r4 generalized)."""
    if os.path.exists(_FIXTURE_PATH):
        return _FIXTURE_PATH
    os.makedirs(os.path.dirname(_FIXTURE_PATH), exist_ok=True)
    header = ["subject", "t", "trans_x", "csf", *_MOTION_COLS]
    lines = ["\t".join(header)]
    for si, subj in enumerate(_SUBJECTS):
        for t in range(_N_T):
            trans_x = f"{((si + 1) * (t * 7 % 5)) / 10:.3f}"
            csf = "n/a" if t % 4 == 0 else f"{(t * 13 % 9) / 3:.3f}"
            # subject i has i+1 flagged TRs spread over the run
            flags = [
                "1" if (t % _N_T) == (2 * j + si) % _N_T and j <= si else "0"
                for j in range(len(_MOTION_COLS))
            ]
            lines.append("\t".join([subj, str(t), trans_x, csf, *flags]))
    with open(_FIXTURE_PATH, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return _FIXTURE_PATH


def s1_tsv_scan(spark, sf_dir):
    """S1: TSV scan with header + n/a-null semantics; nulls must land
    as real NULLs (avg skips them), numerics as doubles."""
    _write_fixture()
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("nullValue", "n/a")
        .option("inferSchema", True)
        .csv(_FIXTURE_PATH)
    )
    return df.groupBy("subject").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("csf").alias("n_csf_nonnull"),
        (F.round(dec_avg("csf"), 6) + F.lit(0.0)).alias("avg_csf"),
        (F.round(dec_sum("trans_x"), 6) + F.lit(0.0)).alias("sum_trans_x"),
    )


S1_SQL = f"""
SELECT subject,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(csf) AS BIGINT) AS n_csf_nonnull,
       (ROUND(CAST(SUM(CAST(csf AS DECIMAL(28,10))) AS DOUBLE) / COUNT(csf), 6) + 0.0) AS avg_csf,
       (ROUND(CAST(SUM(CAST(trans_x AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0) AS sum_trans_x
FROM read_csv('{_FIXTURE_PATH}', delim='\t', header=true, nullstr='n/a')
GROUP BY subject
"""


def e3_motion_outlier_hist(spark, sf_dir):
    """E3 end-to-end: unpivot the motion_outlier column family (P2
    name predicate on the long form), count flagged TRs per subject
    (A4), bin width 2 (A5 histogram, binwidth=5 in the reference
    scaled to fixture size)."""
    _write_fixture()
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("nullValue", "n/a")
        .option("inferSchema", True)
        .csv(_FIXTURE_PATH)
    )
    n = len(_MOTION_COLS)
    pairs = ", ".join(f"'{c}', {c}" for c in _MOTION_COLS)
    long = df.select(
        "subject",
        "t",
        F.expr(f"stack({n}, {pairs}) as (confound, flag)"),
    )
    per_subject = (
        long.filter(F.col("confound").startswith("motion_outlier"))
        .groupBy("subject")
        .agg(F.sum("flag").cast("bigint").alias("n_outliers"))
    )
    return (
        per_subject.groupBy(
            F.floor(F.col("n_outliers") / 2).cast("bigint").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n_subjects"))
    )


E3_SQL = f"""
WITH long AS (
  SELECT subject, t, 'motion_outlier00' AS confound, motion_outlier00 AS flag
  FROM read_csv('{_FIXTURE_PATH}', delim='\t', header=true, nullstr='n/a')
  UNION ALL
  SELECT subject, t, 'motion_outlier01', motion_outlier01
  FROM read_csv('{_FIXTURE_PATH}', delim='\t', header=true, nullstr='n/a')
  UNION ALL
  SELECT subject, t, 'motion_outlier02', motion_outlier02
  FROM read_csv('{_FIXTURE_PATH}', delim='\t', header=true, nullstr='n/a')
), per_subject AS (
  SELECT subject, CAST(SUM(flag) AS BIGINT) AS n_outliers
  FROM long WHERE confound LIKE 'motion_outlier%'
  GROUP BY subject
)
SELECT CAST(FLOOR(n_outliers / 2) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_subjects
FROM per_subject GROUP BY 1
"""

_SIDECAR_DIR = os.path.join(tempfile.gettempdir(), "ndp_spark_fixtures", "sidecars")

_SIDECARS = {
    "sub-001_task-mid_bold.json": '{"RepetitionTime": 2.0, "TaskName": "mid", "EchoTime": 0.03}',
    "sub-001_task-rest_bold.json": '{"RepetitionTime": 1.5, "TaskName": "rest", "EchoTime": 0.025}',
    "sub-002_task-mid_bold.json": '{"RepetitionTime": 2.0, "TaskName": "mid", "EchoTime": 0.03}',
    "sub-002_task-rest_bold.json": '{"RepetitionTime": 1.5, "TaskName": "rest", "EchoTime": 0.025}',
}


def _write_sidecars() -> str:
    if os.path.isdir(_SIDECAR_DIR) and len(os.listdir(_SIDECAR_DIR)) >= len(_SIDECARS):
        return _SIDECAR_DIR
    os.makedirs(_SIDECAR_DIR, exist_ok=True)
    for name, body in _SIDECARS.items():
        with open(os.path.join(_SIDECAR_DIR, name), "w") as fh:
            fh.write(body + "\n")
    return _SIDECAR_DIR


def s4_sidecar_lookup(spark, sf_dir):
    """S4: scalar metadata lookup from BIDS sidecar JSONs
    (layout.get_tr semantics, ssm_loop.py:39,74) — read the sidecar
    dir, extract subject/task entities from the filename, return the
    per-task repetition time. At scale this is the tiny dimension
    every per-TR operator broadcasts."""
    _write_sidecars()
    df = (
        spark.read.option("multiLine", True)
        .json(f"{_SIDECAR_DIR}/*.json")
        .withColumn("_file", F.input_file_name())
    )
    return (
        df.select(
            F.regexp_extract("_file", r"sub-(\d+)", 1).alias("subject"),
            F.regexp_extract("_file", r"task-([a-z]+)", 1).alias("task"),
            F.col("RepetitionTime").cast("double").alias("tr"),
            F.col("EchoTime").cast("double").alias("te"),
        )
        .groupBy("task")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.countDistinct("subject").alias("n_subjects"),
            (F.round(F.min("tr"), 6) + F.lit(0.0)).alias("tr"),
            (F.round(F.min("te"), 6) + F.lit(0.0)).alias("te"),
        )
    )


S4_SQL = f"""
WITH sidecars AS (
  SELECT regexp_extract(filename, 'sub-([0-9]+)', 1) AS subject,
         regexp_extract(filename, 'task-([a-z]+)', 1) AS task,
         CAST(RepetitionTime AS DOUBLE) AS tr,
         CAST(EchoTime AS DOUBLE) AS te
  FROM read_json_auto('{_SIDECAR_DIR}/*.json', filename=true)
)
SELECT task,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(COUNT(DISTINCT subject) AS BIGINT) AS n_subjects,
       (ROUND(MIN(tr), 6) + 0.0) AS tr,
       (ROUND(MIN(te), 6) + 0.0) AS te
FROM sidecars GROUP BY task
"""

def s2_dir_listing(spark, sf_dir):
    """S2: directory-listing scan (list.dirs / ls|xargs analog,
    fmriprep_motion_hist.R:8, convert2BIDS.sh:19) — enumerate the
    sidecar landing dir via the binaryFile source, extract BIDS
    entities from paths, count files per subject. At scale this IS the
    catalog build: one distributed listing, no driver-side os.walk."""
    _write_sidecars()
    files = (
        spark.read.format("binaryFile")
        .load(f"{_SIDECAR_DIR}/*.json")
        .select(
            F.regexp_extract("path", r"sub-(\d+)", 1).alias("subject"),
            F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
            F.col("length").alias("n_bytes"),
        )
    )
    return files.groupBy("subject").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("filename").alias("first_file"),
    )


S2_SQL = f"""
WITH files AS (
  SELECT regexp_extract(filename, 'sub-([0-9]+)', 1) AS subject,
         regexp_extract(filename, '([^/]+)$', 1) AS filename,
         size AS n_bytes
  FROM read_blob('{_SIDECAR_DIR}/*.json')
)
SELECT subject,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MIN(filename) AS first_file
FROM files GROUP BY subject
"""

def sv_time_travel(spark, sf_dir):
    """S10+: versioned-table TIME TRAVEL (sources/versioned.py).

    Builds a 3-version copy-on-write table from ``documents``:
    v0 = (doc_id, lang, n_chars); v1 = delete_where(n_chars < 300);
    v2 = update_where(lang -> 'xx' for every row). The query reads
    PINNED ``version=1`` — proving the time-travel read sees the v1
    delete but NOT the later v2 update (a latest-read would return
    all-'xx' langs and hash-mismatch). Oracle recomputes v1's state in
    pure SQL from the source table."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811

    from neuroimaging_data_pipeline_spark.sources.versioned import (
        delete_where,
        read_version,
        update_where,
        write_version,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        "ndp_spark_warehouse",
        f"sv_tt_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_version(docs, root, operation="create")                     # v0
    delete_where(spark, root, F.col("n_chars") < 300)                 # v1
    update_where(spark, root, F.lit(True), {"lang": F.lit("xx")})     # v2
    return read_version(spark, root, version=1)


SV_TT_SQL = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE n_chars >= 300 OR n_chars IS NULL
"""


def sv_version_diff(spark, sf_dir):
    """S10+: CHANGE DATA CAPTURE between two table versions — the
    Delta-style table_changes/CDF read: a full-outer key join of the
    v0 and v2 snapshots classifies every doc_id as deleted (the v1
    delete removed it), updated (the v2 lang rewrite touched it), or
    unchanged-key-with-changed-payload. Downstream incremental
    consumers (sync jobs, the monoid refresh in
    operators/incremental.py) subscribe to exactly this diff instead
    of re-reading snapshots. Oracle recomputes both versions' states
    from the source table and diffs them in pure SQL."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811

    from neuroimaging_data_pipeline_spark.sources.versioned import (
        delete_where,
        read_version,
        update_where,
        write_version,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        "ndp_spark_warehouse",
        f"sv_diff_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_version(docs, root, operation="create")                     # v0
    delete_where(spark, root, F.col("n_chars") < 300)                 # v1
    update_where(spark, root, F.lit(True), {"lang": F.lit("xx")})     # v2
    old = read_version(spark, root, version=0).alias("o")
    new = read_version(spark, root, version=2).alias("n")
    j = old.join(new, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    return j.select(
        F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
        F.when(F.col("n.doc_id").isNull(), F.lit("delete"))
        .when(F.col("o.doc_id").isNull(), F.lit("insert"))
        .when(
            (F.col("o.lang") != F.col("n.lang"))
            | (F.col("o.n_chars") != F.col("n.n_chars")),
            F.lit("update"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change"),
        F.col("o.lang").alias("old_lang"),
        F.col("n.lang").alias("new_lang"),
    )


SV_DIFF_SQL = """
WITH v0 AS (
  SELECT doc_id, lang, n_chars FROM documents
), v2 AS (
  SELECT doc_id, 'xx' AS lang, n_chars FROM documents
  WHERE n_chars >= 300 OR n_chars IS NULL
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN n.doc_id IS NULL THEN 'delete'
            WHEN o.doc_id IS NULL THEN 'insert'
            WHEN o.lang <> n.lang OR o.n_chars <> n.n_chars THEN 'update'
            ELSE 'unchanged' END AS change,
       o.lang AS old_lang,
       n.lang AS new_lang
FROM v0 o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id
"""


def sv_vacuum(spark, sf_dir):
    """S10+: versioned-table VACUUM (sources/versioned.py) — the
    Delta-style retention step that completes the copy-on-write DML
    family: all but the newest 2 versions are expired (bytes deleted,
    manifest history kept auditable). The query builds the same
    3-version table as sv_time_travel, vacuums keep_last=2 (v0's data
    is GONE), and returns the LATEST state — proving vacuum removed
    history without touching the current version. The expired-read
    error and manifest audit trail are pinned in pytest."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811

    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.versioned import (
        delete_where,
        read_version,
        update_where,
        vacuum,
        write_version,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        "ndp_spark_warehouse",
        f"sv_vac_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_version(docs, root, operation="create")                     # v0
    delete_where(spark, root, F.col("n_chars") < 300)                 # v1
    update_where(spark, root, F.lit(True), {"lang": F.lit("xx")})     # v2
    expired = vacuum(root, keep_last=2)
    assert expired == [0], expired
    return read_version(spark, root)  # latest (v2), untouched


SV_VAC_SQL = """
SELECT doc_id, 'xx' AS lang, n_chars
FROM documents
WHERE n_chars >= 300 OR n_chars IS NULL
"""


def sv_compaction(spark, sf_dir):
    """S10+++: versioned-table COMPACTION/OPTIMIZE
    (sources/versioned.py compact) — the file-layout maintenance
    verb that completes the lakehouse family (write / update /
    delete / merge / time-travel / vacuum / exactly-once append):
    bin-pack small-file debris into few range-clustered files as a
    NEW committed version, rows identical.

    v0 writes the documents projection deliberately shattered across
    64 files (the small-file debris shape per-batch appends leave);
    compact() rewrites it into 4 files range-clustered by doc_id.
    The query asserts the layout actually changed (files_after <
    files_before), derives the range-clustering evidence FROM THE
    PHYSICAL FILES (per-file min/max doc_id via input_file_name:
    sorted by min, every file's min must exceed the previous file's
    max — disjoint ranges are the footer-stat pruning contract), and
    emits a deterministic summary the oracle recomputes: a
    files-within-target verdict (1 <= n <= target — NOT a pinned
    exact count: repartitionByRange samples its bounds and may emit
    fewer non-empty files on tight key distributions, ADVICE r12),
    the disjointness verdict, and the row/char totals that prove the
    rewrite lost nothing. Per-file row counts are NOT emitted —
    repartitionByRange samples its bounds, so exact splits are an
    engine detail, while disjointness and totals are the contract.
    Exact file counts are additionally pinned in
    tests/test_versioned.py."""
    import shutil
    import tempfile as _tf

    from pyspark.sql import functions as F  # noqa: F811

    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.versioned import (
        compact,
        read_version,
        write_version,
    )

    root = os.path.join(
        _tf.gettempdir(),
        "ndp_spark_warehouse",
        f"sv_compact_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    write_version(docs.repartition(64), root, operation="create")  # v0
    info = compact(spark, root, target_files=4, sort_by=["doc_id"])
    assert info["files_after"] < info["files_before"], info
    # repartitionByRange samples its bounds, so it may legitimately
    # emit FEWER than target_files non-empty files when the sort-key
    # distribution is tight (ADVICE r12) — the contract is "at most
    # target, far fewer than the debris count", not "exactly 4".
    assert 1 <= info["files_after"] <= 4, info
    latest = read_version(spark, root)
    # range-clustering evidence from the physical file boundary
    per_file = (
        latest.withColumn(
            "_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        .groupBy("_file")
        .agg(
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
    w = Window.orderBy("min_doc")
    disjoint = (
        per_file.withColumn(
            "_prev_max",
            F.coalesce(F.lag("max_doc").over(w), F.lit(-1)),
        )
        .agg(
            F.min(
                (F.col("min_doc") > F.col("_prev_max")).cast("int")
            ).alias("ok"),
            F.count(F.lit(1)).alias("nf"),
        )
    )
    totals = latest.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    return totals.crossJoin(F.broadcast(disjoint)).select(
        ((F.col("nf") >= 1) & (F.col("nf") <= 4)).alias(
            "files_within_target"
        ),
        (F.col("ok") == 1).alias("ranges_disjoint"),
        F.col("n_rows").cast("long").alias("n_rows"),
        "sum_chars",
        "min_doc",
        "max_doc",
    )


SV_COMPACT_SQL = """
SELECT TRUE AS files_within_target,
       TRUE AS ranges_disjoint,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
"""


def sv_merge(spark, sf_dir):
    """S10++: versioned-table MERGE/upsert (sources/versioned.py
    merge_into — the Delta-style WHEN MATCHED UPDATE SET * / WHEN NOT
    MATCHED INSERT * default, completing the copy-on-write DML set
    next to update/delete/time-travel).

    v0 = (doc_id, lang, n_chars) of every document; the merge source
    REPLACES every doc_id % 7 == 0 row (lang 'zz', n_chars + 1000)
    and INSERTS five brand-new rows (doc_id + 1000000, lang 'new').
    The query reads the post-merge latest version; the oracle
    recomputes the merged state in pure SQL — a wrong match, a
    dropped survivor or a missed insert all hash-mismatch."""
    import shutil
    import tempfile as _tf

    from pyspark.sql import functions as F  # noqa: F811

    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.versioned import (
        merge_into,
        read_version,
        write_version,
    )

    root = os.path.join(
        _tf.gettempdir(),
        "ndp_spark_warehouse",
        f"sv_merge_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_version(docs, root, operation="create")  # v0
    updates = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            F.lit("zz").alias("lang"),
            (F.col("n_chars") + 1000).alias("n_chars"),
        )
    )
    inserts = (
        docs.filter(F.col("doc_id") < 5)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.lit("new").alias("lang"),
            F.lit(0).cast("long").alias("n_chars"),
        )
    )
    merge_into(spark, root, updates.unionByName(inserts), on=["doc_id"])
    return read_version(spark, root)


SV_MERGE_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END AS lang,
       CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END
         AS n_chars
FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, 'new' AS lang, CAST(0 AS BIGINT)
FROM documents WHERE doc_id < 5
"""


# --- S11: remote text fetch --------------------------------------------------

_REMOTE_DIR = os.path.join(
    tempfile.gettempdir(), "ndp_spark_fixtures", "remote_atlas"
)


def _write_remote_fixture() -> str:
    """Deterministic 'remote' atlas-label resources (the kind of small
    text lookup the reference notebook fetches over HTTP): 4 files,
    file i holding 5+i tab-separated (index, label) lines. Lazy
    write-if-missing — no import-time side effects."""
    if os.path.isdir(_REMOTE_DIR) and len(os.listdir(_REMOTE_DIR)) >= 4:
        return _REMOTE_DIR
    os.makedirs(_REMOTE_DIR, exist_ok=True)
    for i in range(4):
        lines = [f"{j}\tregion_{i}_{j * 7 % 11}" for j in range(5 + i)]
        with open(os.path.join(_REMOTE_DIR, f"atlas_{i}.txt"), "w") as fh:
            fh.write("\n".join(lines))
    return _REMOTE_DIR


def s11_remote_fetch(spark, sf_dir):
    """S11: remote text fetch (notebook cell 2, ssm_loop.py:26) as a
    DISTRIBUTED source: a URI table fanned out via map_rows, each
    executor fetching its partition's URIs with stdlib urllib —
    errors-as-data, size-capped (sources/fetch.py). file:// URIs run
    the identical code path as http(s) hermetically; the oracle reads
    the same files with DuckDB read_text and must reproduce status,
    byte counts, line counts and the full-content md5."""
    _write_remote_fixture()
    from neuroimaging_data_pipeline_spark.sources.fetch import fetch_text

    names = sorted(os.listdir(_REMOTE_DIR))
    uris = spark.createDataFrame(
        [(f"file://{_REMOTE_DIR}/{n}",) for n in names], "uri string"
    ).repartition(4)
    fetched = fetch_text(uris)
    return fetched.select(
        F.regexp_extract("uri", r"([^/]+)$", 1).alias("name"),
        "status",
        "n_bytes",
        F.size(F.split("content", "\n", -1)).alias("n_lines"),
        F.md5(F.encode("content", "UTF-8")).alias("digest"),
    )


# NOTE: the oracle's len(content) counts CHARACTERS while the engine
# reports fetched BYTES — equal only because the fixture is ASCII by
# construction (keep it so).
S11_SQL = f"""
SELECT regexp_extract(filename, '([^/]+)$', 1) AS name,
       CAST(200 AS INT) AS status,
       CAST(len(content) AS INT) AS n_bytes,
       CAST(len(string_split(content, chr(10))) AS INT) AS n_lines,
       md5(content) AS digest
FROM read_text('{_REMOTE_DIR}/*.txt')
"""


_PQMETA_PATH = os.path.join(
    tempfile.gettempdir(), "ndp_spark_fixtures", "rowgroups.parquet"
)


def _write_pqmeta_fixture() -> str:
    """Deterministic 3-row-group parquet (3000 rows, row_group_size
    1000, three columns) — the artifact BOTH engines' parquet readers
    inspect. Written lazily from s12_parquet_meta (write-if-missing),
    NOT at import time: importing the package must not require pyarrow
    or a writable tempdir (ADVICE r4)."""
    if os.path.exists(_PQMETA_PATH):
        return _PQMETA_PATH
    import pyarrow as pa
    import pyarrow.parquet as papq

    os.makedirs(os.path.dirname(_PQMETA_PATH), exist_ok=True)
    n = 3000
    tbl = pa.table(
        {
            "id": pa.array(range(n), type=pa.int64()),
            "val": pa.array([(i * 7 % 101) / 4.0 for i in range(n)]),
            "name": pa.array([f"row-{i % 37:03d}" for i in range(n)]),
        }
    )
    papq.write_table(tbl, _PQMETA_PATH, row_group_size=1000)
    return _PQMETA_PATH


def s12_parquet_meta(spark, sf_dir):
    """S12: REAL parquet footer decode (sources/parquet_meta.py) —
    the engine parses the Thrift compact-protocol FileMetaData itself
    (varints, zigzag, delta field ids, nested structs/lists) and
    emits per-row-group planner statistics. Row-group stats are the
    scan-pruning machinery at 100 TB; the parse is O(KB) per file and
    embarrassingly parallel over a corpus (binaryFile + map_rows,
    zero shuffle). The oracle reads the SAME fixture through DuckDB's
    own parquet_metadata() — two independent parquet implementations
    agreeing on one artifact (pytest adds pyarrow as a third across
    every testdata table)."""
    from neuroimaging_data_pipeline_spark.sources.parquet_meta import (
        parse_footer,
    )

    _write_pqmeta_fixture()
    files = spark.read.format("binaryFile").load(_PQMETA_PATH)

    def row_groups(content):
        meta = parse_footer(content)
        for gi, (nr, tbs, nc) in enumerate(meta["row_groups"]):
            yield (gi, nr, tbs, nc)

    return map_rows(
        files,
        row_groups,
        "row_group_id int, num_rows long, total_byte_size long, n_columns int",
        cols=("content",),
    )


S12_SQL = f"""
SELECT DISTINCT CAST(row_group_id AS INT) AS row_group_id,
       CAST(row_group_num_rows AS BIGINT) AS num_rows,
       CAST(row_group_bytes AS BIGINT) AS total_byte_size,
       CAST(row_group_num_columns AS INT) AS n_columns
FROM parquet_metadata('{_PQMETA_PATH}')
"""


def s13_avro_scan(spark, sf_dir):
    """S13: REAL Avro Object Container codec (sources/avro.py) — the
    row-oriented ingest format CDC/Kafka drops arrive in. The binary
    encoding (zigzag varints, length-prefixed strings, LE doubles)
    and container framing (metadata map, per-block sync markers,
    null AND deflate codecs — odd ids deflate, block size 4 forcing
    multi-block files) are parsed by the stdlib-only reader inside
    Arrow map_rows; per-file aggregates over the recovered records
    seal every layer against the formula-recomputing oracle."""
    from neuroimaging_data_pipeline_spark.sources.avro import (
        avro_features,
        synthesize_avro_files,
    )

    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    feats = avro_features(synthesize_avro_files(d, id_col="doc_id"))
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "n_records",
        "sum_rec_id",
        "n_tags",
        (F.round("sum_score", 6) + F.lit(0.0)).alias("sum_score"),
    )


# mirrors _fixture_records in sources/avro.py
S13_SQL = """
WITH r AS (
  SELECT doc_id,
         doc_id * 100 + j.j AS rec_id,
         'tag' || CAST((doc_id + j.j) % 7 AS VARCHAR) AS tag,
         CAST((doc_id * 13 + j.j * 29) % 1000 AS DOUBLE) AS score
  FROM documents, UNNEST(range(0, 11)) AS j(j)
  WHERE j.j < 6 + doc_id % 5
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_records,
       CAST(SUM(rec_id) AS BIGINT) AS sum_rec_id,
       CAST(COUNT(DISTINCT tag) AS INT) AS n_tags,
       (ROUND(SUM(score), 6) + 0.0) AS sum_score
FROM r GROUP BY doc_id
"""


def s14_tarshard_source(spark, sf_dir):
    """S14: WebDataset TAR shards through Spark's OFFICIAL Python
    DataSource API (sources/datasource.py) — a registered
    ``spark.read.format('ndp_tarshard')`` with declared schema and
    EXPLICIT partition planning (one input partition per shard file,
    the parallelism unit of a tar-packed corpus; verified one task
    per shard in pytest). The reader runs the same real USTAR parser
    as m13 (every header checksum re-verified, gzip framing sniffed
    per shard) executor-side. The fixture shards are built from the
    m13 formula fixture, so the oracle recomputes every member row —
    names, sizes, payload sums — in pure SQL."""
    from neuroimaging_data_pipeline_spark.sources.datasource import (
        register,
        write_fixture_shards,
    )

    d = write_fixture_shards()
    register(spark)
    return spark.read.format("ndp_tarshard").option("path", d).load()


S14_SQL = """
WITH ids AS (
  SELECT i.i AS i FROM UNNEST(range(0, 64)) AS i(i)
), base AS (
  SELECT i,
         'shard-' || lpad(CAST(i AS VARCHAR), 5, '0')
           || CASE WHEN i % 2 = 1 THEN '.tar.gz' ELSE '.tar' END AS shard,
         lpad(CAST(i AS VARCHAR), 6, '0') AS key
  FROM ids
), txt_sum AS (
  SELECT b.i, CAST(SUM((b.i * 17 + j.j * 11) % 256) AS BIGINT) AS s
  FROM base b, UNNEST(range(0, 60)) AS j(j)
  WHERE j.j < 20 + b.i % 40
  GROUP BY b.i
), bin_sum AS (
  SELECT b.i, CAST(SUM((b.i * 29 + j.j * 13) % 256) AS BIGINT) AS s
  FROM base b, UNNEST(range(0, 15)) AS j(j)
  WHERE b.i % 3 <> 0 AND j.j < 5 + (b.i * 7) % 10
  GROUP BY b.i
)
SELECT shard, key AS sample_key, key || '.txt' AS member,
       CAST(20 + i % 40 AS BIGINT) AS size, t.s AS payload_sum
FROM base JOIN txt_sum t USING (i)
UNION ALL
SELECT shard, key, key || '.cls', CAST(1 AS BIGINT),
       CAST(i % 10 AS BIGINT)
FROM base
UNION ALL
SELECT shard, key, key || '.bin',
       CAST(5 + (i * 7) % 10 AS BIGINT), bs.s
FROM base JOIN bin_sum bs USING (i)
"""


def s15_rowgroup_prune(spark, sf_dir):
    """S15: row-group PRUNING straight from the Thrift footer
    (sources/parquet_meta.py parse_column_stats/prune_row_groups) —
    the planner decision itself: per row group, the id column's
    [min, max] statistics and whether a ``id >= 1500`` range
    predicate lets the scan SKIP the group's bytes entirely. This is
    what makes partition/row-group layout matter at 100 TB: the
    pruning verdict costs one KB footer read per file, never a data
    read. The engine decodes the Statistics min/max binaries by
    physical type from the compact-protocol footer; the oracle reads
    the SAME file through DuckDB's parquet_metadata() and recomputes
    the identical verdicts — two independent parquet implementations
    agreeing on the planning decision, not just the layout."""
    from neuroimaging_data_pipeline_spark.sources.parquet_meta import (
        prune_row_groups,
    )

    _write_pqmeta_fixture()
    files = spark.read.format("binaryFile").load(_PQMETA_PATH)

    def prune(content):
        for r in prune_row_groups(content, "id", lo=1500):
            yield (
                r["row_group"],
                r["min"],
                r["max"],
                r["num_values"],
                r["survives"],
            )

    return map_rows(
        files,
        prune,
        "row_group int, min_id long, max_id long, num_values long, "
        "survives int",
        cols=("content",),
    )


S15_SQL = f"""
SELECT CAST(row_group_id AS INT) AS row_group,
       CAST(stats_min_value AS BIGINT) AS min_id,
       CAST(stats_max_value AS BIGINT) AS max_id,
       CAST(num_values AS BIGINT) AS num_values,
       CAST(CASE WHEN CAST(stats_max_value AS BIGINT) < 1500
                 THEN 0 ELSE 1 END AS INT) AS survives
FROM parquet_metadata('{_PQMETA_PATH}')
WHERE path_in_schema = 'id'
"""


def s16_orc_roundtrip(spark, sf_dir):
    """S16: ORC source/sink coverage — the second columnar format
    real lakes carry (Hive-era tables, Trino/Presto warehouses).
    Spark-native both ways, the idiomatic answer: write ``documents``
    partitioned by lang to ORC, read it back with a partition-
    pruning lang predicate AND an ORC-pushdown n_chars predicate,
    aggregate per (lang, source). At 100 TB the lang predicate never
    lists non-matching partition directories and the n_chars filter
    evaluates against ORC stripe statistics before row decode — both
    verified free behaviors of the declarative plan. Oracle
    recomputes the aggregate from the parquet twin in DuckDB."""
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        "ndp_spark_warehouse",
        f"s16_orc_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.write.partitionBy("lang").orc(root)
    back = spark.read.orc(root).where(
        F.col("lang").isin("en", "de") & (F.col("n_chars") >= 200)
    )
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
    )


S16_SQL = """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE lang IN ('en', 'de') AND n_chars >= 200
GROUP BY lang, source
"""


def s17_xml_source(spark, sf_dir):
    """S17: XML source/sink coverage — the enterprise-dump ingest
    shape (feeds, sitemaps, legacy exports). Spark 4's NATIVE xml
    data source both ways: write ``documents`` rows as <doc> elements,
    read them back with rowTag streaming parse + schema inference,
    filter and aggregate per lang. No third-party package, no
    driver-side parsing — the XML tokenizer runs distributed in the
    scan like any other FileFormat, so a 100 TB XML drop splits and
    scales exactly as CSV/JSON do. Oracle recomputes the aggregate
    from the parquet twin."""
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        "ndp_spark_warehouse",
        f"s17_xml_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    docs.write.format("xml").option("rowTag", "doc").save(root)
    back = (
        spark.read.format("xml").option("rowTag", "doc").load(root)
    ).where(F.col("n_chars") > 300)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    )


S17_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE n_chars > 300
GROUP BY lang
"""


def s18_warc_ingest(spark, sf_dir):
    """S18: REAL WARC/1.0 web-archive ingest (sources/warc.py) — the
    container web corpora actually arrive in. Documents are packed
    into deterministic WARC shards (warcinfo + one full HTTP/1.1
    response record per doc; ODD shards use the Common Crawl
    gzip-member-per-record layout, EVEN shards plain concatenation,
    so both parse paths execute) and parsed back out: version lines,
    Content-Length framing, record terminators, multi-member gunzip,
    HTTP status/header/body split, and a re-verified
    WARC-Payload-Digest (sha1) on every record. The oracle recomputes
    status/length/md5 straight from the documents table, so ANY
    framing or digest error anywhere breaks the hash match. One keyed
    shuffle for shard packing (what any distributed shard writer
    needs), then narrow map_rows parse."""
    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.warc import (
        synthesize_warc_shards,
        warc_records,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_warc_shards(d, id_col="doc_id", text_col="text")
    return warc_records(shards)


S18_SQL = """
SELECT doc_id,
       'response' AS warc_type,
       CAST(200 AS INT) AS http_status,
       -- strlen = OCTET length: content_length is HTTP semantics
       -- (bytes of the encoded body), not character count, so the
       -- pair stays correct for non-ASCII corpora too
       CAST(strlen(text) AS BIGINT) AS content_length,
       md5(text) AS body_md5,
       CAST(1 AS INT) AS n_warcinfo
FROM documents
"""


def s19_mbox_ingest(spark, sf_dir):
    """S19: mbox + MIME email ingest (sources/mbox.py) — the
    mailing-list-archive corpus source. Documents become
    multipart/alternative messages (text/plain + text/html, base64
    CTE for odd ids, quoted-printable for even) inside mboxrd
    containers with REAL ^>*From  quoting, then are split, unquoted,
    MIME-walked and CTE-decoded back out. The oracle recomputes part
    counts, the id-determined transfer encoding, and md5 of the
    decoded text/plain body straight from the documents table — a
    framing, quoting or decode bug anywhere breaks the hash match.
    One keyed shuffle for shard packing, then narrow map_rows."""
    from neuroimaging_data_pipeline_spark.sources.mbox import (
        mbox_messages,
        synthesize_mbox_shards,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_mbox_shards(d, id_col="doc_id", text_col="text")
    return mbox_messages(shards)


S19_SQL = """
SELECT doc_id,
       CAST(2 AS INT) AS n_parts,
       CASE WHEN doc_id % 2 = 1 THEN 'base64'
            ELSE 'quoted-printable' END AS cte,
       CAST(n_chars AS BIGINT) AS plain_len,
       md5(text) AS plain_md5
FROM documents
"""


def s20_avro_shards(spark, sf_dir):
    """S20: REAL Avro Object Container Files (sources/avro_ocf.py) —
    the data-engineering interchange row format, implemented
    from-scratch per the Avro 1.11 spec since Spark's avro module is
    an external jar absent here (same stance as the Thrift
    parquet-footer parser). Documents are packed into OCF shards
    (zigzag varints, nullable-union label, multi-block framing with
    re-verified sync markers; EVEN shards codec null, ODD deflate)
    and decoded back BY THE EMBEDDED WRITER SCHEMA. The oracle
    recomputes the nullable label, lengths and text md5 from the
    documents table — any varint/union/block/codec bug breaks the
    hash match. One keyed shuffle to pack, then narrow map_rows."""
    from neuroimaging_data_pipeline_spark.sources.avro_ocf import (
        avro_documents,
        synthesize_avro_shards,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_avro_shards(d, id_col="doc_id")
    return avro_documents(shards)


S20_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS label,
       CAST(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


def s21_arrow_ipc(spark, sf_dir):
    """S21: Arrow IPC stream shards (sources/arrow_ipc.py) — the
    Arrow-ecosystem interchange format ML dataloaders and feature
    stores hand around, read/written with the pyarrow Spark itself
    ships. Documents are packed into multi-batch IPC streams (16 rows
    per record batch) and decoded back zero-copy inside Arrow
    workers; every row carries its shard's BATCH COUNT so the
    multi-batch framing is oracle-visible (ceil(shard_rows/16)),
    and the reader re-verifies the embedded schema. One keyed
    shuffle to pack, then narrow map_rows."""
    from neuroimaging_data_pipeline_spark.sources.arrow_ipc import (
        ipc_documents,
        synthesize_ipc_shards,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_ipc_shards(d, id_col="doc_id")
    return ipc_documents(shards)


S21_SQL = """
WITH shard AS (
  SELECT doc_id // 64 AS shard_id, COUNT(*) AS n
  FROM documents GROUP BY 1
)
SELECT d.doc_id, d.lang,
       CAST(d.n_chars AS BIGINT) AS n_chars,
       md5(d.text) AS text_md5,
       CAST(CEIL(s.n / 16.0) AS INT) AS n_batches
FROM documents d JOIN shard s ON d.doc_id // 64 = s.shard_id
"""


def s22_zip_shards(spark, sf_dir):
    """S22: ZIP archive shards (sources/zipshard.py) — the
    random-access archive format: members are located ONLY through
    the end-of-central-directory record and central-directory
    offsets (the property that lets an object-store reader range-GET
    one member from a 100 TB corpus), with CRC-32 re-verified per
    member and central/local header agreement cross-checked. Even
    ids stored, odd deflated, so both methods stay hot; pytest pins
    byte-level interop with the stdlib zipfile in BOTH directions.
    The oracle recomputes method, length and text md5 per document.
    One keyed shuffle to pack, then narrow map_rows."""
    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.zipshard import (
        synthesize_zip_shards,
        zip_documents,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_zip_shards(d, id_col="doc_id", text_col="text")
    return zip_documents(shards)


S22_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 1 THEN 'deflate' ELSE 'stored' END AS method,
       CAST(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


def s23_sqlite_shards(spark, sf_dir):
    """S23: SQLite database shards (sources/sqlitefile.py) — the
    single-file b-tree container dataset metadata ships in. Both
    directions are from scratch: the writer emits leaf pages, an
    interior level when rows spill past one page, and the page-1
    sqlite_master schema row (stdlib ``sqlite3`` opens the raw bytes
    and passes PRAGMA integrity_check — pinned in pytest); the reader
    locates the table ONLY through sqlite_master, walks interior/leaf
    pages in rowid order, decodes every record serial type, and
    follows payload-overflow chains with the exact local-split
    formula. doc_id rides the rowid (INTEGER PRIMARY KEY alias —
    stored as NULL in the record, per the format). The oracle
    recomputes length and text md5 per document (the per-shard page
    count is packing-dependent, so the b-tree fan-out is pinned in
    pytest instead, not here). One keyed shuffle to pack, then narrow
    map_rows."""
    from neuroimaging_data_pipeline_spark.sources.sqlitefile import (
        sqlite_documents,
        synthesize_sqlite_shards,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_sqlite_shards(d, id_col="doc_id", text_col="text")
    return sqlite_documents(shards).select("doc_id", "n_chars", "text_md5")


S23_SQL = """
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


def s24_cbor_shards(spark, sf_dir):
    """S24: CBOR shards (sources/cbor.py) — RFC 8949, the binary JSON
    telemetry/COSE/config payloads ship in; the schemaless sibling to
    the Avro OCF (s20) and Arrow IPC (s21) sources. The codec is
    pinned against the RFC's Appendix A examples as literal hex in
    BOTH directions (an external conformance pin), emits preferred
    (shortest-form) serialization incl. a from-scratch binary16, and
    decodes indefinite-length forms. Every 3rd doc id rides inside a
    tag 1 wrapper so tagged decode stays hot on the query path; the
    record's own n field is cross-checked against the text. The
    oracle recomputes tag presence, length and text md5 per document.
    One keyed shuffle to pack, then narrow map_rows."""
    from neuroimaging_data_pipeline_spark.sources.cbor import (
        cbor_documents,
        synthesize_cbor_shards,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_cbor_shards(d, id_col="doc_id", text_col="text")
    return cbor_documents(shards)


S24_SQL = """
SELECT doc_id,
       (doc_id % 3 = 0) AS tagged,
       CAST(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


def s25_zstd_meta(spark, sf_dir):
    """S25: zstd frame metadata source (sources/zstdmeta.py) — the
    planner's walk over `.jsonl.zst`-style members: RFC 8878 frame
    headers (descriptor bits, window descriptor, dictionary id, all
    four content-size encodings incl. the flag-1 bias), skippable
    frames, the 3-byte block chain, RAW and RLE blocks decoded for
    real, and the content checksum RE-VERIFIED with a from-scratch
    XXH64 (pinned in pytest against the spec's published check
    values). Per-doc header variants ride pure id formulas the oracle
    recomputes — checksum math included via checksum_ok. (Compressed
    blocks decode too since r8 — exercised end-to-end by
    s25b_zstd_decode.) One narrow map_rows pass, zero shuffle."""
    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.zstdmeta import (
        synthesize_zstd_docs,
        zstd_meta_features,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_zstd_docs(d, id_col="doc_id", text_col="text")
    return zstd_meta_features(media)


def s25b_zstd_decode(spark, sf_dir):
    """S25b: zstd compressed-block decode END TO END from scratch
    (sources/zstdblock.py + zstdmeta.py) — FSE + Huffman per RFC
    8878: backward bitstreams under the sentinel bit, FSE
    distribution headers and table spread, Huffman tree descriptions
    (direct and FSE-compressed weights with the implied last weight),
    1- and 4-stream literals, sequence decoding across the
    Predefined/RLE/FSE/Repeat modes with the three repeated-offset
    slots and the litLength==0 twist, matches reaching earlier blocks
    in the frame. The WRITER is pyarrow's bundled libzstd at a level
    cycling 1/3/6/9/12 by doc id, so every row is a real conformance
    check — any table, bitstream, or sequence bug breaks the md5.
    Mixed streams: skippable frame (id%6==0) + libzstd compressed
    frame + a raw-block trailer frame whose XXH64 checksum is
    re-verified. One narrow map_rows pass, zero shuffle; at 100 TB
    this is the `.jsonl.zst` shard-ingest path (one task per shard).

    Reference parity: preprocess_parallel.sh:15-193 shells out to
    decompression tools before its pipeline; this is the engine-side
    equivalent for zstd-compressed corpora."""
    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.zstdmeta import (
        synthesize_zstd_compressed_docs,
        zstd_decoded_documents,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_zstd_compressed_docs(d, id_col="doc_id", text_col="text")
    return zstd_decoded_documents(media)


S25B_SQL = """
WITH v AS (
  SELECT doc_id,
         COALESCE(text, '')
           || repeat('the quick brown fox jumps over the lazy dog. ',
                     CAST(20 + doc_id % 30 AS INT))
           || 'T' || CAST(doc_id AS VARCHAR) AS full_text
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS INT)
         AS n_skippable,
       TRUE AS trailer_checksum_ok,
       CAST(strlen(full_text) AS BIGINT) AS content_len,
       md5(full_text) AS text_md5
FROM v
"""


S25_SQL = """
WITH v AS (
  SELECT doc_id,
         strlen(text) AS nb,
         CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 7 ELSE 0 END AS run
  FROM documents
)
SELECT v.doc_id,
       CAST(CASE WHEN v.doc_id % 6 = 0 THEN 1 ELSE 0 END AS INT)
         AS n_skippable,
       (v.doc_id % 2 = 1) AS single_segment,
       ((v.doc_id % 2 = 1) OR (v.doc_id % 4 <> 0)) AS size_known,
       CAST(CASE WHEN v.doc_id % 5 = 0 THEN (v.doc_id % 200) + 1
            ELSE 0 END AS INT) AS dict_id,
       CAST(CASE WHEN v.nb = 0 AND v.run = 0 THEN 1
            ELSE CAST(CEIL(v.nb / 100.0) AS INT)
                 + CASE WHEN v.run > 0 THEN 1 ELSE 0 END
            END AS INT) AS n_blocks,
       CAST(CASE WHEN v.run > 0 THEN 1 ELSE 0 END AS INT) AS n_rle,
       CAST(v.nb + v.run AS BIGINT) AS content_len,
       (v.doc_id % 4 <> 3) AS has_checksum,
       (v.doc_id % 4 <> 3) AS checksum_ok,
       md5(d.text || repeat('=', v.run)) AS text_md5
FROM v JOIN documents d ON v.doc_id = d.doc_id
"""


def s26_lz4_shards(spark, sf_dir):
    """S26: LZ4 frame shards (sources/lz4frame.py) — the fast-codec
    sibling of s25's zstd walk, with NO capability gate: LZ4 has no
    entropy stage, so block sequences (token splits, 255-saturated
    lengths, overlap-copy matches, the end-of-block literal rules)
    and the full frame grammar (FLG/BD descriptor, XXH32 header byte,
    stored-vs-compressed block headers, EndMark, per-block + content
    XXH32) are all implemented exactly, both directions, stdlib-only.
    Per-doc header variants ride pure id formulas: compressible tail
    for id%3==0 keeps compressed blocks hot, forced-stored frames for
    id%7==0 keep the stored path hot, block checksums for even ids,
    content size omitted for id%5==0. Every checksum is re-verified
    on decode (checksum_ok is oracle-visible). One narrow map_rows
    pass, zero shuffle."""
    from neuroimaging_data_pipeline_spark.sources.lz4frame import (
        lz4_documents,
        synthesize_lz4_docs,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_lz4_docs(d, id_col="doc_id", text_col="text")
    return lz4_documents(media)


S26_SQL = """
WITH v AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0
                 THEN repeat(' lz4', 8 + doc_id % 5) ELSE '' END AS body
  FROM documents
)
SELECT doc_id,
       CAST(GREATEST(CEIL(strlen(body) / 65536.0), 1) AS INT) AS n_blocks,
       (doc_id % 5 <> 0) AS size_known,
       (doc_id % 2 = 0) AS has_block_checksum,
       TRUE AS checksum_ok,
       CAST(strlen(body) AS BIGINT) AS content_len,
       md5(body) AS text_md5
FROM v
"""


def s27_snappy_shards(spark, sf_dir):
    """S27: Snappy framing streams (sources/snappy.py) — the codec
    under classic Parquet/ORC/Avro data pages, from scratch with no
    gate: raw-format literal/copy tags (incl. the 60-63 extended
    lengths and all three copy forms), overlap copies, the framing
    stream identifier / compressed / uncompressed / padding chunks,
    and a from-scratch MASKED CRC-32C (Castagnoli; published check
    value pinned) re-verified per chunk. Per-doc variants ride id
    formulas: compressible tail (id%3==0), forced-uncompressed
    chunks (id%4==0), padding chunk (id%5==0). One narrow
    map_rows pass, zero shuffle."""
    from neuroimaging_data_pipeline_spark.sources.snappy import (
        snappy_documents,
        synthesize_snappy_docs,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_snappy_docs(d, id_col="doc_id", text_col="text")
    return snappy_documents(media)


S27_SQL = """
WITH v AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0
                 THEN repeat(' zip', 8 + doc_id % 5) ELSE '' END AS body
  FROM documents
)
SELECT doc_id,
       CAST(GREATEST(CEIL(strlen(body) / 65536.0), 1) AS INT) AS n_chunks,
       CAST(CASE WHEN doc_id % 4 = 0
            THEN GREATEST(CEIL(strlen(body) / 65536.0), 1)
            ELSE 0 END AS INT) AS n_stored,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS n_padding,
       CAST(strlen(body) AS BIGINT) AS content_len,
       md5(body) AS text_md5
FROM v
"""



def s28_tfrecord_shards(spark, sf_dir):
    """S28: TFRecord + tf.train.Example shards (sources/tfrecord.py)
    — THE classic ML training-shard format, with both the frame layer
    and the protobuf WIRE FORMAT implemented from scratch (no
    tensorflow, no protobuf lib): LE64-length frames double-guarded
    by masked CRC-32C checksums (shared with the snappy module's
    from-scratch Castagnoli table), varints with the 10-byte negative
    form (odd ids ship NEGATED to keep it hot), length-delimited
    map<string, Feature> entries, BytesList, packed Int64List and
    packed float32 FloatList (quarter-step scores so f32 is exact
    cross-engine), unknown fields skipped by wire type. The oracle
    recomputes every per-doc feature from the documents table — any
    framing, varint, zigzag-less negative, packing or checksum bug
    breaks the hash. One keyed shuffle to pack, then narrow
    map_rows."""
    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.tfrecord import (
        synthesize_tfrecord_shards,
        tfrecord_documents,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_tfrecord_shards(d, id_col="doc_id", text_col="text")
    return tfrecord_documents(shards)


S28_SQL = """
SELECT doc_id,
       lang,
       CAST(n_chars AS BIGINT) AS n_chars,
       ((doc_id % 100) / 4.0 + (doc_id % 7) / 2.0) AS score_sum,
       md5(text) AS text_md5
FROM documents
"""


def s29_ogg_stream(spark, sf_dir):
    """S29: Ogg container streams (sources/ogg.py) — RFC 3533 page
    framing walked for real, both directions: capture pattern,
    BOS/EOS/continued flags (consistency re-verified page by page),
    granule positions (-1 on pages completing no packet), strictly
    sequential page numbers, the 255-byte lacing scheme incl. the
    zero-lacing terminator for exact-multiple packets, packet
    reassembly ACROSS pages (a forced 2-page packet for id%3==0
    keeps the continued path hot), and Ogg's own non-reflected
    CRC-32 (poly 0x04C11DB7, init 0 — a third CRC flavor next to
    zlib's and Castagnoli's) re-verified per page. The oracle
    recomputes page/packet/span counts from the lacing arithmetic
    and md5 of the payload packet. One narrow map_rows pass,
    zero shuffle."""
    from neuroimaging_data_pipeline_spark.sources.ogg import (
        ogg_documents,
        synthesize_ogg_docs,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_ogg_docs(d, id_col="doc_id", text_col="text")
    return ogg_documents(media)


# lacing arithmetic (sources/ogg.py): header packet = 1 segment,
# text packet = strlen//255 + 1, forced-span tail (id%3==0) =
# 255*42 bytes = 43 segments; pages of 40 segments. Corpus texts are
# far below one page of segments, so only the forced tail spans.
S29_SQL = """
WITH v AS (
  SELECT doc_id,
         1 + (strlen(text) // 255 + 1)
           + CASE WHEN doc_id % 3 = 0 THEN 43 ELSE 0 END AS segs
  FROM documents
)
SELECT v.doc_id,
       CAST(CEIL(v.segs / 40.0) AS INT) AS n_pages,
       CAST(CASE WHEN v.doc_id % 3 = 0 THEN 3 ELSE 2 END AS INT)
         AS n_packets,
       CAST(CASE WHEN v.doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
         AS n_spanning,
       CAST(strlen(d.text) AS BIGINT) AS content_len,
       md5(d.text) AS text_md5
FROM v JOIN documents d USING (doc_id)
"""


def s30_xz_shards(spark, sf_dir):
    """S30: .xz members decoded END TO END from scratch
    (sources/xz.py on the sources/lzma_alone.py LZMA1 core) — the
    format Wikipedia dumps and Pile mirrors ship in, with stdlib
    liblzma as the reference writer: stream header/footer CRCs,
    block-header grammar (reserved bits loud), LZMA2 chunk control
    bytes with all four reset modes over a persistent window, block
    padding, the per-block integrity check (NONE/CRC32/CRC64/SHA256
    cycling by id%4 — CRC64-XZ from scratch, published check value
    pinned), and the index/footer cross-checked against what the
    blocks actually measured. One narrow map_rows pass, zero
    shuffle."""
    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.xz import (
        synthesize_xz_docs,
        xz_documents,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_xz_docs(d, id_col="doc_id", text_col="text")
    return xz_documents(media)


def e11_zstd_corpus_pipeline(spark, sf_dir):
    """E11: the realistic compressed-corpus ingest chain END TO END —
    documents pack into multi-doc `.jsonl.zst` shards (50 docs/shard,
    ONE keyed shuffle, pyarrow's real libzstd as the writer at a
    level cycling by shard), then the FROM-SCRATCH zstd decoder
    (sources/zstdblock.py) + JSONL/JSON unescaping reassemble every
    document, and a per-shard verification aggregate pins exact
    reassembly: doc counts, byte totals, and an ORDER-PINNED md5 over
    the shard's texts. Any FSE/Huffman/sequence/JSON bug anywhere in
    the stack breaks the hash. Shape at 100 TB: one pack shuffle,
    narrow decode (one task per shard), one map-side-combinable
    aggregate — the standard training-data ingest plan."""
    from pyspark.sql import functions as F

    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.zstdmeta import (
        synthesize_jsonl_zst_shards,
        zstd_shard_documents,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_jsonl_zst_shards(d, id_col="doc_id", text_col="text")
    docs = zstd_shard_documents(shards, id_col="doc_id")
    texts_sorted = F.transform(
        F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
        lambda s: s["text"],
    )
    return docs.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.octet_length("text")).cast("long").alias("sum_bytes"),
        F.md5(F.array_join(texts_sorted, "|")).alias("docs_md5"),
    )


E11_SQL = """
SELECT CAST(doc_id // 50 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(strlen(COALESCE(text, ''))) AS BIGINT) AS sum_bytes,
       md5(string_agg(COALESCE(text, ''), '|' ORDER BY doc_id))
         AS docs_md5
FROM documents
GROUP BY 1
"""


def e12_mixed_corpus_pipeline(spark, sf_dir):
    """E12: the container-HETEROGENEOUS corpus ingest chain (VERDICT
    r8 #8) — real corpora mix archives: Wikipedia ships .bz2,
    research dumps ship .xz, one release plan ingests both. Documents
    pack into 50-doc JSONL shards whose container ALTERNATES by shard
    id (even: stdlib libbzip2 writer; odd: stdlib liblzma xz writer,
    CRC64 check), then the r8 FROM-SCRATCH decoders reverse the
    stack — bzip2's selector-switched Huffman / MTF / inverse BWT /
    RLE layers with CRC-32 verified, xz's LZMA2 range coder — and a
    per-(shard, container) verification aggregate pins exact
    reassembly with an ORDER-PINNED md5 over the shard's texts. Any
    bit-level bug in either entropy stack breaks the hash. Shape at
    100 TB: one pack shuffle, narrow decode (one task per shard),
    one map-side-combinable aggregate — identical to e11's plan, now
    container-dispatching per shard."""
    from pyspark.sql import functions as F

    from neuroimaging_data_pipeline_spark.sources.compshards import (
        bxz_shard_documents,
        synthesize_jsonl_bxz_shards,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    shards = synthesize_jsonl_bxz_shards(d, id_col="doc_id", text_col="text")
    docs = bxz_shard_documents(shards, id_col="doc_id")
    texts_sorted = F.transform(
        F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
        lambda s: s["text"],
    )
    return docs.groupBy("shard_id", "container").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.octet_length("text")).cast("long").alias("sum_bytes"),
        F.md5(F.array_join(texts_sorted, "|")).alias("docs_md5"),
    )


E12_SQL = """
SELECT CAST(doc_id // 50 AS BIGINT) AS shard_id,
       CASE WHEN (doc_id // 50) % 2 = 0 THEN 'bz2' ELSE 'xz' END
         AS container,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(strlen(COALESCE(text, ''))) AS BIGINT) AS sum_bytes,
       md5(string_agg(COALESCE(text, ''), '|' ORDER BY doc_id))
         AS docs_md5
FROM documents
GROUP BY 1, 2
"""


def s32_bzip2_shards(spark, sf_dir):
    """S32: bzip2 decoded END TO END from scratch (sources/bzip2.py)
    — the third big corpus container next to gzip and xz (Wikipedia
    dumps ship .xml.bz2 / .jsonl.bz2), with stdlib libbzip2 as the
    conformance writer: big-endian unaligned bitstream, sparse symbol
    maps, 2-6 Huffman tables with 50-symbol selector switching (the
    selector list itself MTF-coded), MTF + RLE2 zero-runs in
    bijective base 2, inverse BWT (one stable argsort + permutation
    walk), the outer RLE1 layer, bzip2's UNREFLECTED CRC-32 per block
    and per stream, multi-stream concatenation (id%5==0 carries a
    second stream, re-aligned to a byte boundary), and levels cycling
    1/5/9. One narrow map_rows pass, zero shuffle; at 100 TB one
    task per .bz2 shard, linear per-doc CPU.

    Reference parity: preprocess_parallel.sh:15-193 decompresses
    archives before its pipeline; this is the engine-side equivalent
    for bzip2-compressed corpora."""
    from neuroimaging_data_pipeline_spark.sources.bzip2 import (
        bzip2_documents,
        synthesize_bzip2_docs,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_bzip2_docs(d, id_col="doc_id", text_col="text")
    return bzip2_documents(media)


S32_SQL = """
WITH v AS (
  SELECT doc_id,
         COALESCE(text, '')
           || CASE WHEN doc_id % 4 = 0
                   THEN repeat('zzzz', CAST(20 + doc_id % 13 AS INT))
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN 'S' || CAST(doc_id AS VARCHAR) ELSE '' END
           AS full_text
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS INT)
         AS n_streams,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS INT)
         AS n_blocks,
       CAST(strlen(full_text) AS BIGINT) AS content_len,
       md5(full_text) AS text_md5
FROM v
"""


def s31_xz_filters(spark, sf_dir):
    """S31: xz multi-filter chains decoded from scratch (sources/
    xz.py delta_decode + bcj_x86_decode, closes VERDICT r7 #5) — the
    encodings distro-built `.xz` actually uses: the Delta filter
    (byte-wise diff at distance 1-256) and the x86 BCJ filter
    (relative->absolute CALL/JMP displacement conversion with the
    3-bit veto mask and 25-bit sign clamp), singly and STACKED
    (delta+x86), always in front of LZMA2. stdlib liblzma is the
    conformance writer; the body carries a pseudo-x86 tail of real
    0xE8/0xE9 instructions so the BCJ pass genuinely rewrites
    addresses. The binary tail is verified bit-exactly in-engine
    against its id formula (binary cannot ride a SQL md5); text md5,
    lengths and the filter-chain label go to the oracle. One narrow
    map_rows pass, zero shuffle."""
    from neuroimaging_data_pipeline_spark.sources.tables import read_table
    from neuroimaging_data_pipeline_spark.sources.xz import (
        synthesize_xz_filtered_docs,
        xz_filtered_documents,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_xz_filtered_docs(d, id_col="doc_id", text_col="text")
    return xz_filtered_documents(media)


S31_SQL = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'delta' WHEN 1 THEN 'x86'
            ELSE 'delta+x86' END AS filters,
       CAST(strlen(COALESCE(text, '')) + 5 * (40 + doc_id % 20)
            AS BIGINT) AS content_len,
       CAST(5 * (40 + doc_id % 20) AS INT) AS tail_len,
       md5(COALESCE(text, '')) AS text_md5,
       TRUE AS tail_ok
FROM documents
"""


S30_SQL = """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'crc32'
            WHEN 2 THEN 'crc64' ELSE 'sha256' END AS check,
       CAST(1 AS INT) AS n_blocks,
       CAST(strlen(text)
            + CASE WHEN doc_id % 3 = 0
              THEN 4 * (15 + doc_id % 9) ELSE 0 END AS BIGINT)
         AS content_len,
       md5(text || CASE WHEN doc_id % 3 = 0
           THEN repeat(' xz2', 15 + doc_id % 9) ELSE '' END) AS text_md5
FROM documents
"""

QUERIES = {
    "s1_tsv_scan": s1_tsv_scan,
    "s12_parquet_meta": s12_parquet_meta,
    "s13_avro_scan": s13_avro_scan,
    "s14_tarshard_source": s14_tarshard_source,
    "s15_rowgroup_prune": s15_rowgroup_prune,
    "s2_dir_listing": s2_dir_listing,
    "s4_sidecar_lookup": s4_sidecar_lookup,
    "s11_remote_fetch": s11_remote_fetch,
    "e3_motion_outlier_hist": e3_motion_outlier_hist,
    "sv_time_travel": sv_time_travel,
    "sv_version_diff": sv_version_diff,
    "sv_merge": sv_merge,
    "sv_vacuum": sv_vacuum,
    "sv_compaction": sv_compaction,
    "s16_orc_roundtrip": s16_orc_roundtrip,
    "s17_xml_source": s17_xml_source,
    "s18_warc_ingest": s18_warc_ingest,
    "s19_mbox_ingest": s19_mbox_ingest,
    "s20_avro_shards": s20_avro_shards,
    "s21_arrow_ipc": s21_arrow_ipc,
    "s22_zip_shards": s22_zip_shards,
    "s23_sqlite_shards": s23_sqlite_shards,
    "s24_cbor_shards": s24_cbor_shards,
    "s25_zstd_meta": s25_zstd_meta,
    "s25b_zstd_decode": s25b_zstd_decode,
    "s26_lz4_shards": s26_lz4_shards,
    "s27_snappy_shards": s27_snappy_shards,
    "s28_tfrecord_shards": s28_tfrecord_shards,
    "s29_ogg_stream": s29_ogg_stream,
    "s30_xz_shards": s30_xz_shards,
    "s31_xz_filters": s31_xz_filters,
    "s32_bzip2_shards": s32_bzip2_shards,
    "e11_zstd_corpus_pipeline": e11_zstd_corpus_pipeline,
    "e12_mixed_corpus_pipeline": e12_mixed_corpus_pipeline,
}

ORACLE = {
    "s1_tsv_scan": S1_SQL,
    "s12_parquet_meta": S12_SQL,
    "s13_avro_scan": S13_SQL,
    "s14_tarshard_source": S14_SQL,
    "s15_rowgroup_prune": S15_SQL,
    "s2_dir_listing": S2_SQL,
    "s4_sidecar_lookup": S4_SQL,
    "s11_remote_fetch": S11_SQL,
    "e3_motion_outlier_hist": E3_SQL,
    "sv_time_travel": SV_TT_SQL,
    "sv_version_diff": SV_DIFF_SQL,
    "sv_merge": SV_MERGE_SQL,
    "sv_vacuum": SV_VAC_SQL,
    "sv_compaction": SV_COMPACT_SQL,
    "s16_orc_roundtrip": S16_SQL,
    "s17_xml_source": S17_SQL,
    "s18_warc_ingest": S18_SQL,
    "s19_mbox_ingest": S19_SQL,
    "s20_avro_shards": S20_SQL,
    "s21_arrow_ipc": S21_SQL,
    "s22_zip_shards": S22_SQL,
    "s23_sqlite_shards": S23_SQL,
    "s24_cbor_shards": S24_SQL,
    "s25_zstd_meta": S25_SQL,
    "s25b_zstd_decode": S25B_SQL,
    "s26_lz4_shards": S26_SQL,
    "s27_snappy_shards": S27_SQL,
    "s28_tfrecord_shards": S28_SQL,
    "s29_ogg_stream": S29_SQL,
    "s30_xz_shards": S30_SQL,
    "s31_xz_filters": S31_SQL,
    "s32_bzip2_shards": S32_SQL,
    "e11_zstd_corpus_pipeline": E11_SQL,
    "e12_mixed_corpus_pipeline": E12_SQL,
}
