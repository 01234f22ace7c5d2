"""S11 distributed text fetch: real urllib code path over file://,
errors-as-data, size cap."""

from __future__ import annotations

import pytest


def test_fetch_text_file_scheme_and_errors(spark, tmp_path):
    from neuroimaging_data_pipeline_spark.sources.fetch import fetch_text

    ok = tmp_path / "ok.txt"
    ok.write_text("alpha\nbeta\n")
    big = tmp_path / "big.txt"
    big.write_text("x" * 1000)

    uris = spark.createDataFrame(
        [
            (f"file://{ok}",),
            (f"file://{tmp_path}/missing.txt",),
            ("notascheme://nope",),
            (f"file://{big}",),
        ],
        "uri string",
    ).repartition(2)
    out = {
        r["uri"]: r
        for r in fetch_text(uris, max_bytes=100).collect()
    }
    assert len(out) == 4

    good = out[f"file://{ok}"]
    assert good["status"] == 200
    assert good["content"] == "alpha\nbeta\n"
    assert good["n_bytes"] == 11
    assert good["error"] is None

    missing = out[f"file://{tmp_path}/missing.txt"]
    assert missing["status"] == -1
    assert missing["content"] is None
    assert missing["error"] is not None

    bad_scheme = out["notascheme://nope"]
    assert bad_scheme["status"] == -1 and bad_scheme["error"] is not None

    truncated = out[f"file://{big}"]
    assert truncated["status"] == 200
    assert len(truncated["content"]) == 100
    assert "truncated" in truncated["error"]


def test_fetch_plan_is_narrow(spark, tmp_path):
    """One mapInArrow over the URI table — no shuffle added by the
    fetcher itself."""
    from neuroimaging_data_pipeline_spark.sources.fetch import fetch_text

    p = tmp_path / "a.txt"
    p.write_text("hi")
    uris = spark.createDataFrame([(f"file://{p}",)], "uri string")
    plan = (
        fetch_text(uris)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


@pytest.mark.skip(reason="network-gated: http(s) runs the same urllib "
                  "branch; no egress in this environment")
def test_fetch_http():  # pragma: no cover
    pass


def test_tarshard_datasource_partitioning_and_pruning(spark):
    """The custom DataSource plans one input partition per shard file
    and its declared schema supports column pruning; row content
    matches the direct parse_tar of each fixture shard."""
    import gzip
    import os

    from neuroimaging_data_pipeline_spark.multimodal.tar import parse_tar
    from neuroimaging_data_pipeline_spark.sources.datasource import (
        register,
        write_fixture_shards,
    )

    d = write_fixture_shards(6)
    register(spark)
    df = (
        spark.read.format("ndp_tarshard").option("path", d).load()
        .filter("shard like 'shard-0000%'")
    )
    # partition planning: one task per shard file
    full = spark.read.format("ndp_tarshard").option("path", d).load()
    assert full.rdd.getNumPartitions() >= 6
    got = {
        (r.shard, r.member): (r.size, r.payload_sum) for r in full.collect()
    }
    for i in range(6):
        ext = "tar.gz" if i % 2 == 1 else "tar"
        name = f"shard-{i:05d}.{ext}"
        raw = open(os.path.join(d, name), "rb").read()
        if raw[:2] == b"\x1f\x8b":
            raw = gzip.decompress(raw)
        for member, payload in parse_tar(raw):
            assert got[(name, member)] == (len(payload), sum(payload))
    # pruned projection executes
    assert full.select("member").distinct().count() > 0


def test_tarshard_datasource_error_paths(spark, tmp_path):
    """Missing path option and empty shard dirs fail loudly at plan
    time; a corrupt shard fails inside its own task (checksum
    re-verification), not silently."""
    import pytest

    from neuroimaging_data_pipeline_spark.multimodal.tar import parse_tar
    from neuroimaging_data_pipeline_spark.sources.datasource import register

    register(spark)
    with pytest.raises(Exception):
        spark.read.format("ndp_tarshard").load().collect()
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception):
        spark.read.format("ndp_tarshard").option(
            "path", str(empty)
        ).load().collect()
    # corrupt checksum rejected by the parser itself
    from neuroimaging_data_pipeline_spark.multimodal.tar import write_tar

    good = bytearray(write_tar([("a.txt", b"hello")]))
    good[150] ^= 0xFF  # flip a checksum byte
    with pytest.raises(Exception):
        parse_tar(bytes(good))
