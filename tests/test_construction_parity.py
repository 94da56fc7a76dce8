"""Regression tests for the r7 SQL-string expression construction.

The hot operators build their expression blocks as generated SQL strings
(one expr()/selectExpr() parse) instead of chained Column calls — ~2,900
py4j round trips (~0.5 s driver-serial per q1 construction) saved, with
the CONTRACT that the parsed tree computes exactly what the Column form
did.  These tests pin that contract against an inline Column-form
reference so a refactor that drifts the SQL (e.g. a bare ``0.1`` literal,
which Spark SQL parses as DECIMAL, not DOUBLE) fails loudly.

Also pins the memoized partition probe: the cache key includes the
shuffle-partition conf, so a conf change (the CC small-regime switch does
exactly this mid-query) must re-probe, not serve a stale count.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from fuzzymatch_spark.config import DedupConfig
from fuzzymatch_spark.operators.dedup import hamming_band_keys, minhash_bands


def _column_form_band_keys(df, id_col, hash_col, n_bands, max_hamming):
    """The pre-r7 Column-built combo keys (fused form), kept as the
    executable specification of ``hamming_band_keys``."""
    m = n_bands
    c = m - max_hamming
    width = 64 // m
    mask = (1 << width) - 1

    def block(i):
        return F.shiftrightunsigned(F.col(hash_col), i * width).bitwiseAND(
            F.lit(mask)
        )

    key_width = c * width
    combined = []
    for ci, combo in enumerate(itertools.combinations(range(m), c)):
        key = F.lit(0).cast("long")
        for j, blk in enumerate(combo):
            key = key.bitwiseOR(F.shiftleft(block(blk), j * width))
        if ci:
            key = key.bitwiseOR(F.lit(ci << key_width).cast("long"))
        combined.append(key)
    return df.select(
        F.col(id_col).alias("id"),
        F.col(hash_col),
        F.explode(F.array(*combined)).alias("bk"),
    )


@pytest.mark.parametrize("n_bands,max_hamming", [(8, 6), (8, 3), (16, 2)])
def test_band_keys_match_column_form(spark, n_bands, max_hamming):
    rows = [(f"id{i}", (i * 0x9E3779B97F4A7C15) % (1 << 63) - (1 << 62))
            for i in range(64)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    new = hamming_band_keys(df, "image_id", "phash", n_bands, max_hamming)
    ref = _column_form_band_keys(df, "image_id", "phash", n_bands, max_hamming)
    assert new.schema == ref.schema
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0


def test_minhash_bands_key_matches_column_form(spark, documents):
    from fuzzymatch_spark.operators.dedup import compute_signatures

    cfg = DedupConfig()
    sig = compute_signatures(documents.limit(50), "doc_id", "text", cfg)
    r = cfg.rows_per_band
    ref = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.lit(i), F.slice("minhash_sig", i * r + 1, r)
                        ).alias("key"),
                    )
                    for i in range(cfg.bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")
    new = minhash_bands(sig, cfg)
    assert new.schema == ref.schema
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0


def test_plan_num_partitions_cache_and_conf_key(spark):
    from fuzzymatch_spark.plans import parallelism

    # scan-shaped plans (ensure_min_partitions' main use case) probe their
    # real width, and a semantically-equal fresh DataFrame hits the cache
    df = spark.range(0, 1000, 1, 7)
    assert parallelism.plan_probe(df)[0] == 7
    parallelism._probe_cache.clear()
    assert parallelism.plan_probe(spark.range(0, 1000, 1, 7))[0] == 7
    n_entries = len(parallelism._probe_cache)
    assert parallelism.plan_probe(spark.range(0, 1000, 1, 7))[0] == 7
    assert len(parallelism._probe_cache) == n_entries  # cache hit, no growth

    # the cache key includes the shuffle-partition conf: a conf change
    # must create a NEW entry, never serve the old one
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    shuffled = spark.range(0, 1000).selectExpr("id % 7 AS k").distinct()
    try:
        spark.conf.set(key, "5")
        a = parallelism.plan_probe(shuffled)[0]
        n_entries = len(parallelism._probe_cache)
        spark.conf.set(key, "3")
        b = parallelism.plan_probe(shuffled)[0]
        assert len(parallelism._probe_cache) == n_entries + 1
        # both probes returned what a direct (uncached) probe returns
        assert b == shuffled._jdf.rdd().getNumPartitions()
        assert isinstance(a, int)
    finally:
        spark.conf.set(key, prev)


def test_plan_num_partitions_key_error_surfaces(spark, monkeypatch):
    """An error while building the memo key propagates: it must not
    quietly fall back to uncached planning."""
    from pyspark.errors import PySparkException
    from fuzzymatch_spark.plans import parallelism

    monkeypatch.setattr(
        parallelism, "_CONF_KEYS",
        parallelism._CONF_KEYS + ("spark.fuzzymatch.no.such.conf",),
    )
    with pytest.raises(PySparkException):
        parallelism.plan_probe(spark.range(0, 1000, 1, 7))


def test_plan_num_partitions_sees_grown_directory_and_split_conf(spark, tmp_path):
    """A file scan's semanticHash covers its root path only: a directory
    that gained files, or a file-split conf change, must be probed afresh
    rather than served the memoized count.  Each expected count is a
    direct probe of a fresh read (``rdd()`` is cached per Dataset)."""
    from fuzzymatch_spark.plans import parallelism

    def direct(path):
        return spark.read.parquet(path)._jdf.rdd().getNumPartitions()

    path = str(tmp_path / "grow")
    spark.range(10).coalesce(1).write.parquet(path)
    assert parallelism.plan_probe(spark.read.parquet(path))[0] == 1
    for _ in range(6):
        spark.range(10).coalesce(1).write.mode("append").parquet(path)
    assert direct(path) > 1
    assert parallelism.plan_probe(spark.read.parquet(path))[0] == direct(path)

    wide = str(tmp_path / "wide")
    spark.range(20_000).coalesce(1).write.parquet(wide)
    assert parallelism.plan_probe(spark.read.parquet(wide))[0] == 1
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "1k")
        assert direct(wide) > 1
        assert parallelism.plan_probe(spark.read.parquet(wide))[0] == direct(wide)
    finally:
        spark.conf.set(key, prev)
