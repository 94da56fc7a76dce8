#!/usr/bin/env python
"""Scale probe for the positional tile-containment join
(`tile_dup_pairs`): N images x 9 tiles synthesized JVM-side (xxhash64
tile hashes, no decode — the probe measures the JOIN, which is the part
that scales with corpus size; decode cost is per-image and
embarrassingly parallel).  10% planted twins share 6/9 positions
(matched_frac 0.666667 >= 0.6); the remaining hashes are uniform random
64-bit, so same-position Hamming<=3 background is ~0 by the birthday
bound (C(N,2) * 43.7k/2^64 per position) — unlike the WHOLE-image pHash
leg, whose structured-DCT hashes measurably collide (BENCH.md x7.1 row),
positional tile keys keep edge volume linear in the planted dup mass.

Reports wall + images/s at two core counts and the scaling ratio, plus
exact recall of the planted pair set.  Run exclusively.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

N = int(os.environ.get("TILE_N", "400000"))
TWIN_FRAC = float(os.environ.get("TILE_TWIN_FRAC", "0.1"))


def tile_table(spark, n: int):
    p = int(n * TWIN_FRAC)
    base = (
        spark.range(n)
        .select(F.col("id").alias("image_id"), F.explode(F.sequence(F.lit(0), F.lit(8))).alias("tile_idx"))
        .select(
            "image_id", "tile_idx",
            F.xxhash64(F.concat(F.col("image_id"), F.lit("#"), F.col("tile_idx"))).alias("tile_phash"),
        )
    )
    # twins: ids n..n+p-1 copy tiles 0-5 of base (id - n), rewrite 6-8
    twins = (
        spark.range(p)
        .select((F.col("id") + F.lit(n)).alias("image_id"), F.explode(F.sequence(F.lit(0), F.lit(8))).alias("tile_idx"))
        .select(
            "image_id", "tile_idx",
            F.when(
                F.col("tile_idx") < 6,
                F.xxhash64(F.concat(F.col("image_id") - F.lit(n), F.lit("#"), F.col("tile_idx"))),
            ).otherwise(
                F.xxhash64(F.concat(F.lit("edit"), F.col("image_id"), F.lit("#"), F.col("tile_idx")))
            ).alias("tile_phash"),
        )
    )
    return base.unionByName(twins), p


def run(master: str, cores: int):
    from fuzzymatch_spark.operators.multimodal import tile_dup_pairs
    from fuzzymatch_spark.session import get_spark

    spark = get_spark(app_name=f"tile_probe_{cores}", master=master,
                      shuffle_partitions=cores)
    tiles, p = tile_table(spark, N)
    t0 = time.time()
    out = tile_dup_pairs(
        tiles, n_tiles=9, id_col="image_id", tile_col="tile_idx",
        phash_col="tile_phash", max_hamming=3, min_frac=0.6,
    )
    edges = out.count()
    wall = time.time() - t0
    # exact planted recall (a_id = base, b_id = base + N)
    hit = out.filter(F.col("b_id") - F.col("a_id") == F.lit(N)).count()
    spark.stop()
    return {
        "cores": cores, "images": N + p, "edges": edges,
        "planted": p, "recovered": hit, "recall": hit / p,
        "wall_s": round(wall, 2),
        "images_per_s": round((N + p) / wall, 0),
    }


def main():
    r8 = run("local[8]", 8)
    r32 = run("local[32]", 32)
    eff = (r32["images_per_s"] / r8["images_per_s"]) / 4.0
    print(json.dumps({"local8": r8, "local32": r32,
                      "scaling_x": round(r32["images_per_s"] / r8["images_per_s"], 2),
                      "efficiency_vs_4x": round(eff, 3)}))
    assert r8["recall"] == 1.0 and r32["recall"] == 1.0
    assert r8["edges"] == r32["edges"]


if __name__ == "__main__":
    main()
