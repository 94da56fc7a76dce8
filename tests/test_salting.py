"""Triangle-block salting: a mega-bucket must yield ALL pairs (no recall
loss) with bounded per-block membership."""

import pytest
from pyspark.sql import functions as F

from fuzzymatch_spark.operators.dedup import _salted_self_join_pairs


def test_mega_bucket_all_pairs(spark):
    # one bucket with 100 members, shard_target 10 -> 10 shards, 55 blocks
    rows = [(f"x{i:03d}", 0, 7) for i in range(100)]
    bands = spark.createDataFrame(rows, "id string, band int, key long")
    pairs = {
        (r["a_id"], r["b_id"])
        for r in _salted_self_join_pairs(
            bands, ["band", "key"], shard_target=10
        ).collect()
    }
    want = {
        (f"x{i:03d}", f"x{j:03d}") for i in range(100) for j in range(i + 1, 100)
    }
    assert pairs == want  # 4950 pairs, none missing, none duplicated


def test_multiple_buckets_no_cross_pairs(spark):
    rows = [(f"a{i}", 0, 1) for i in range(5)] + [(f"b{i}", 0, 2) for i in range(5)]
    bands = spark.createDataFrame(rows, "id string, band int, key long")
    pairs = {
        (r["a_id"], r["b_id"])
        for r in _salted_self_join_pairs(bands, ["band", "key"], 3).collect()
    }
    assert all(x[0][0] == x[1][0] for x in pairs), "no cross-bucket pairs"
    assert len(pairs) == 10 + 10


def test_hamming_band_keys_zero_hamming_fused_contract(spark):
    # max_hamming=0 -> c == m, key_width == 64: a single full-width combo
    # with nothing folded above it, so each row keys on its own hash
    from fuzzymatch_spark.operators.dedup import hamming_band_keys

    rows = [("a", 7), ("b", 7), ("c", -12345678901234567)]
    df = spark.createDataFrame(rows, "id string, h long")
    out = hamming_band_keys(df, "id", "h", 8, 0)
    assert out.columns == ["id", "h", "bk"]
    got = out.collect()
    assert len(got) == 3  # one combo per row
    assert all(r["bk"] == r["h"] for r in got)
    assert {(r["id"], r["bk"]) for r in got} == {
        ("a", 7), ("b", 7), ("c", -12345678901234567)
    }


def test_hamming_radius_at_or_past_n_bands_raises(spark, tmp_path):
    # a radius >= n_bands cannot be recall-complete (pigeonhole needs one
    # agreeing block), so every Hamming join refuses it instead of
    # clamping to n_bands - 1; the sink refuses at construction
    import dataclasses

    from fuzzymatch_spark.config import DedupConfig
    from fuzzymatch_spark.operators.dedup import (
        hamming_band_keys,
        phash_band_edges,
    )
    from fuzzymatch_spark.operators.multimodal import (
        tile_dup_pairs,
        video_dup_pairs,
    )
    from fuzzymatch_spark.streaming.ingest import make_phash_dedup_sink

    images = spark.createDataFrame(
        [("a", 1), ("b", 3)], "image_id string, phash long"
    )
    tiles = spark.createDataFrame(
        [("a", 0, 1), ("b", 0, 3)],
        "image_id string, tile_idx int, tile_phash long",
    )
    frames = spark.createDataFrame(
        [("v", 0, 1), ("w", 0, 3)],
        "video_id string, frame_idx int, frame_phash long",
    )
    bench = images.withColumnRenamed("image_id", "bench_id")
    cfg = dataclasses.replace(DedupConfig(), phash_max_hamming=8)
    with pytest.raises(ValueError, match=r"max_hamming \(8\).*n_bands \(8\)"):
        phash_band_edges(images, cfg)
    with pytest.raises(ValueError, match=r"max_hamming \(4\).*n_bands \(4\)"):
        tile_dup_pairs(tiles, n_tiles=1, max_hamming=4)
    with pytest.raises(ValueError, match="max_hamming"):
        video_dup_pairs(frames, max_hamming=8)
    with pytest.raises(ValueError, match="max_hamming"):
        make_phash_dedup_sink(spark, str(tmp_path / "w"), max_hamming=8)
    with pytest.raises(ValueError, match="decon_max_hamming"):
        make_phash_dedup_sink(
            spark, str(tmp_path / "w"), bench_df=bench, decon_max_hamming=8
        )
    with pytest.raises(ValueError, match=r"max_hamming \(-1\)"):
        hamming_band_keys(images, "image_id", "phash", 8, -1)
    with pytest.raises(ValueError, match=r"n_bands \(6\) must divide 64"):
        hamming_band_keys(images, "image_id", "phash", 6, 2)
    # the largest legal radius still builds
    assert phash_band_edges(
        images, dataclasses.replace(cfg, phash_max_hamming=7)
    ).count() == 1


def test_over_hard_cap_dropped(spark):
    rows = [(f"x{i}", 0, 7) for i in range(50)]
    bands = spark.createDataFrame(rows, "id string, band int, key long")
    pairs = _salted_self_join_pairs(
        bands, ["band", "key"], shard_target=2, max_shards=4
    ).collect()
    # bucket_n=50 > 2*4 -> dropped entirely (caller accounts via stats)
    assert pairs == []
