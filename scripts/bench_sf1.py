#!/usr/bin/env python
"""sf1 headline: the q1 dedup pipeline at 10x the driver bench scale
(50k docs = sf0.1 documents x 10 isomorphic corpus copies), with the fold
CC, once stage-decomposed and once fused as in production.  Run
exclusively; results land in BENCH.md's sf1 table.  (The star-round,
label-propagation and contraction pre-pass variants that were A/B'd here
lost at every scale and were removed — BENCH.md.)

Corpus construction: rep r applies a per-rep ALPHABET ROTATION to the
text (a -> chr((ord(a)-97+r) % 26 + 97)).  Within a rep, trigram overlap
is exactly the base corpus's (the rotation is a bijection on shingles),
so each rep is an isomorphic copy of sf0.1's near-dup cluster structure;
across reps trigram sets are disjoint, so reps never merge.  Duplication
RATE therefore stays constant while docs x10 — edges and clusters scale
linearly (~10x 948k edges), which is the honest web-scale growth model.
(The naive "append a suffix per rep" variant makes every rep join its
base's cluster: cluster sizes x10, edge volume x100 — a quadratic
corpus, not a bigger one.)"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SF1_REPS", "10"))
ROUNDS = int(os.environ.get("SF1_ROUNDS", "2"))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    alpha = "abcdefghijklmnopqrstuvwxyz"
    parts = []
    for r in range(REPS):
        rot = alpha[r:] + alpha[:r]
        parts.append(
            docs.select(
                # doc_id * REPS + r keeps ids injective for ANY rep count
                # (doc_id * 16 collided rep r with rep r-16 of doc_id+1
                # whenever REPS > 16, silently merging corpus copies)
                (F.col("doc_id") * REPS + F.lit(r)).alias("doc_id"),
                F.translate("text", alpha, rot).alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(CORES * 4)


def run_q1(spark, docs, fused: bool = False):
    from fuzzymatch_spark.config import DedupConfig
    from fuzzymatch_spark.operators.cluster import cluster_assignments
    from fuzzymatch_spark.operators.dedup import (
        candidate_edges,
        compute_signatures,
        verify_edges,
    )

    cfg = DedupConfig.web_dense()  # the headline q1 profile (bench.py)
    t0 = time.time()
    sig = compute_signatures(docs, "doc_id", "text", cfg).persist()
    n_docs = sig.count()
    t_sig = time.time()
    # fused=True is the production shape (bench.py q1 since r6): verify
    # feeds ONLY the CC operator, which materializes it exactly once, so
    # the eager persist+count here is pure stage-decomposition
    # instrumentation — the fused variant measures the true end-to-end
    # wall (edge count and the verify/cc split are then unavailable)
    verified = verify_edges(candidate_edges(sig, cfg), sig, cfg)
    n_edges = None
    if not fused:
        verified = verified.persist()
        n_edges = verified.count()
    t_ver = time.time()
    clusters = cluster_assignments(verified, sig.select("id"), id_col="id").persist()
    n_clusters = clusters.select("cluster_id").distinct().count()
    t_cc = time.time()
    stats = {
        "docs": n_docs,
        "edges": n_edges,
        "clusters": n_clusters,
        "wall_total": round(t_cc - t0, 3),
        "wall_sig": round(t_sig - t0, 3),
        "wall_verify": round(t_ver - t_sig, 3),
        "wall_cc": round(t_cc - t_ver, 3),
    }
    sig.unpersist()
    if not fused:
        verified.unpersist()
    return clusters, stats


def main() -> None:
    from fuzzymatch_spark.session import get_spark

    try:
        os.sched_setaffinity(0, set(range(CORES)))
    except OSError:
        pass
    spark = get_spark(
        app_name="bench-sf1",
        master=f"local[{CORES}]",
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "50000"},
    )
    docs = build_corpus(spark).persist()
    docs.count()

    variants = (
        ("fold", {}),
        # the production pipeline shape: no eager verify materialization
        ("fused", {"fused": True}),
    )
    results: dict[str, list[dict]] = {name: [] for name, _ in variants}
    label_sets = {}
    for rnd in range(ROUNDS):
        for name, kw in variants:
            clusters, stats = run_q1(spark, docs, **kw)
            results[name].append(stats)
            if rnd == 0:
                label_sets[name] = clusters
                clusters.count()
            else:
                clusters.unpersist()
            print(f"round={rnd} {name}: {stats}", flush=True)

    # label-identical assertion across ALL variants (exact rows)
    a = label_sets["fold"]
    diff = 0
    for name in label_sets:
        if name == "fold":
            continue
        b = label_sets[name]
        diff += a.exceptAll(b).count() + b.exceptAll(a).count()
    out = {
        "sf": 1.0,
        "reps": REPS,
        "cores": CORES,
        "label_diff_rows": diff,
    }
    for name, _ in variants:
        out[name] = results[name]
        out[f"min_total_{name}"] = min(s["wall_total"] for s in results[name])
        out[f"min_cc_{name}"] = min(s["wall_cc"] for s in results[name])
    print(json.dumps(out), flush=True)
    assert diff == 0, "CC variants disagree on labels!"
    spark.stop()


if __name__ == "__main__":
    main()
