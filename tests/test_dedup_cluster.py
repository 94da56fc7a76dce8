"""Planted-duplicate pipeline test (FIXTURES.md §4): candidate generation +
verify + connected components must recover >= 0.99 of planted dup pairs and
match the brute-force all-pairs oracle's cluster assignment at the same
shingle/signature/band config (north rule gate)."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzymatch_spark.config import DedupConfig
from fuzzymatch_spark.kernels.normalize import normalize_bytes
from fuzzymatch_spark.kernels.trigrams import jaccard, trigram_set
from fuzzymatch_spark.operators.cluster import (
    cluster_assignments,
    fold_components,
    label_prop_components,
)
from fuzzymatch_spark.operators.dedup import (
    candidate_edges,
    compute_signatures,
    exact_dup_edges,
    minhash_band_edges,
    verify_edges,
)

WORDS = (
    "spark shuffle partition join window batch stream table scan merge sort "
    "hash key order fast small dup near exact image caption pixel frame "
    "engine vector query index bucket salt skew band row"
).split()


def make_corpus(seed=42, n_base=120):
    """Base captions + planted duplicate variants with labels."""
    rng = np.random.RandomState(seed)
    rows = []  # (id, text)
    dup_pairs = []  # (a_id, b_id, variant)
    next_id = 0

    def add(text):
        nonlocal next_id
        rid = f"doc{next_id:06d}"
        rows.append((rid, text))
        next_id += 1
        return rid

    for i in range(n_base):
        nw = rng.randint(6, 14)
        words = [WORDS[rng.randint(0, len(WORDS))] for _ in range(nw)]
        base = " ".join(words)
        base_id = add(base)
        r = rng.rand()
        if r < 0.2:  # exact dup
            dup_pairs.append((base_id, add(base), "exact"))
        elif r < 0.4:  # case/diacritic dup
            variant = base.upper() if rng.rand() < 0.5 else base.replace("a", "à")
            dup_pairs.append((base_id, add(variant), "fold"))
        elif r < 0.6:  # single transposition typo
            chars = list(base)
            p = rng.randint(0, len(chars) - 1)
            chars[p], chars[p + 1] = chars[p + 1], chars[p]
            dup_pairs.append((base_id, add("".join(chars)), "typo"))
        elif r < 0.8:  # d<=2 edits
            chars = list(base)
            for _ in range(rng.randint(1, 3)):
                p = rng.randint(0, len(chars))
                chars.insert(p, "x")
            dup_pairs.append((base_id, add("".join(chars)), "edit"))
        # else: singleton
    return rows, dup_pairs


CFG = DedupConfig(min_score=0.72, jaccard_threshold=0.6)


@pytest.fixture(scope="module")
def corpus(spark):
    rows, dup_pairs = make_corpus()
    df = spark.createDataFrame(rows, "doc_id string, text string")
    return df, rows, dup_pairs


def brute_force_edges(rows, cfg):
    """All-pairs oracle at the same config: exact-equality OR
    jaccard >= threshold OR DL-sim >= min_score (same verify semantics)."""
    from fuzzymatch_spark.kernels.editdist import substring_edit_distance

    norm = {rid: normalize_bytes(t.encode()) for rid, t in rows}
    tri = {rid: trigram_set(n) for rid, n in norm.items()}
    edges = set()
    for (a, _), (b, _) in itertools.combinations(rows, 2):
        na, nb = norm[a], norm[b]
        if na == nb:
            edges.add((min(a, b), max(a, b)))
            continue
        j = jaccard(tri[a], tri[b])
        score = j
        q, c = (na, nb) if len(na) <= len(nb) else (nb, na)
        max_ed = int(np.ceil((1 - cfg.min_score) * max(len(q), 1)))
        d = substring_edit_distance(q, c, max_ed)
        if d is not None:
            score = max(score, 1.0 - d / max(len(q), 1))
        if score >= cfg.min_score:
            edges.add((min(a, b), max(a, b)))
    return edges


def test_exact_dup_edges(spark, corpus):
    df, rows, dup_pairs = corpus
    sig = compute_signatures(df, "doc_id", "text", CFG).cache()
    got = {
        tuple(sorted((r["a_id"], r["b_id"])))
        for r in exact_dup_edges(sig).collect()
    }
    norm = {}
    want = set()
    for rid, t in rows:
        n = normalize_bytes(t.encode())
        norm.setdefault(n, []).append(rid)
    for ids in norm.values():
        m = min(ids)
        for other in ids:
            if other != m:
                want.add((m, other))
    assert got == want


def test_exact_dup_mega_group_bounded(spark):
    """A 100k-member boilerplate group must complete as bounded join rows,
    not one giant aggregation row: the plan carries no collect_list and the
    star edges all point at the group minimum."""
    n = 100_000
    df = spark.range(n).select(
        F.concat(F.lit("m"), F.lpad(F.col("id").cast("string"), 7, "0")).alias("id"),
        F.lit("boilerplate caption").alias("caption_norm"),
    )
    edges = exact_dup_edges(df)
    plan = edges._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "collect_list" not in plan
    assert edges.count() == n - 1
    lo, hi = edges.select(F.min("a_id"), F.max("a_id")).first()
    assert lo == hi == "m0000000"


def test_planted_recall_and_oracle_parity(spark, corpus):
    df, rows, dup_pairs = corpus
    sig = compute_signatures(df, "doc_id", "text", CFG).cache()
    cand = candidate_edges(sig, CFG)
    verified = verify_edges(cand, sig, CFG).cache()
    got_edges = {
        tuple(sorted((r["a_id"], r["b_id"]))) for r in verified.collect()
    }

    # 1) recall on planted pairs
    planted = {tuple(sorted((a, b))) for a, b, _ in dup_pairs}
    hit = len(planted & got_edges)
    recall = hit / len(planted)
    assert recall >= 0.99, f"planted recall {recall}: missing {planted - got_edges}"

    # 2) cluster-assignment parity vs brute-force all-pairs oracle
    oracle_edges = brute_force_edges(rows, CFG)
    assert got_edges <= oracle_edges | planted  # no spurious edges beyond oracle
    oracle_df = spark.createDataFrame(
        [(a, b) for a, b in sorted(oracle_edges)], "a_id string, b_id string"
    )
    ids = df.select(F.col("doc_id"))
    got_clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in cluster_assignments(verified, ids, id_col="doc_id").collect()
    }
    want_clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in cluster_assignments(oracle_df, ids, id_col="doc_id").collect()
    }
    mismatches = {
        k: (got_clusters[k], want_clusters[k])
        for k in want_clusters
        if got_clusters.get(k) != want_clusters[k]
    }
    agree = 1 - len(mismatches) / len(want_clusters)
    assert agree >= 0.99, f"cluster agreement {agree}: {list(mismatches.items())[:5]}"


def _union_find_labels(edges):
    """Independent CC reference: {(node, component min)} for every node on
    a non-loop edge, by plain union-find.  Linking the larger root under
    the smaller keeps every root its component's minimum."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


def _pairs(df):
    return {(r["node"], r["cluster_id"]) for r in df.collect()}


def test_cc_basic(spark):
    rows = [("b", "a"), ("c", "b"), ("e", "d"), ("f", "f")]
    edges = spark.createDataFrame(rows, "a_id string, b_id string")
    got = _pairs(fold_components(edges))
    assert got == _union_find_labels(rows)
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")}


def test_cc_chain(spark):
    # a long chain spreads one component over several level-1 partitions
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    edges = spark.createDataFrame(chain, "a_id string, b_id string").repartition(4)
    got = _pairs(fold_components(edges))
    assert got == _union_find_labels(chain)
    assert len(got) == 41 and {c for _, c in got} == {"n000"}


def test_prefix_filtered_jaccard_equals_full_join(spark):
    """PPJoin prefix filtering is recall-complete: on a shingle-diverse
    corpus with planted near-dups, the prefix-filtered join returns the
    EXACT pair set of the full inverted-index join (all thresholds)."""
    import random
    import string

    from fuzzymatch_spark.config import DedupConfig
    from fuzzymatch_spark.operators.dedup import (
        compute_signatures,
        ngram_jaccard_pairs,
        ngram_jaccard_prefix_pairs,
    )

    rng = random.Random(7)
    rows = []
    for i in range(300):
        t = "".join(rng.choices(string.ascii_lowercase, k=80))
        rows.append((i, t))
        if i < 20:  # planted near-dup: one char changed
            rows.append(
                (100000 + i,
                 t[:40] + ("a" if t[40] != "a" else "b") + t[41:])
            )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = compute_signatures(docs, "doc_id", "text", DedupConfig()).persist()
    for pct in (95, 90, 70):
        full = {tuple(r) for r in
                ngram_jaccard_pairs(sig, threshold_pct=pct).collect()}
        pref = {tuple(r) for r in
                ngram_jaccard_prefix_pairs(sig, threshold_pct=pct).collect()}
        assert pref == full, f"pct={pct}: {len(pref)} vs {len(full)}"
    # the planted pairs are found
    pairs = {(a, b) for a, b, *_ in pref}
    assert all((i, 100000 + i) in pairs for i in range(20))
    sig.unpersist()


def _mixed_graph():
    """Cliques (diameter 1), long chains (diameter 29) and a random
    component."""
    import random

    rng = random.Random(5)
    edges = []
    for c in range(10):  # cliques of 6
        ids = [c * 50 + i for i in range(6)]
        edges += [(x, y) for x in ids for y in ids if x < y]
    for c in range(5):  # chains of length 30
        base = 10_000 + c * 100
        edges += [(base + i, base + i + 1) for i in range(29)]
    nodes = [50_000 + i for i in range(40)]
    edges += [tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)]
    return edges


def test_label_prop_components_matches_star(spark):
    """labelprop is exact: identical (node, cluster_id) sets vs the
    union-find reference on cliques, chains, and a random graph —
    including when max_iter=3 stops propagation short of the chains'
    diameter and the fold finishes the contracted graph.  (Named for the
    star-round engine it was first checked against.)"""
    edges = _mixed_graph()
    df = spark.createDataFrame(edges, "a_id long, b_id long").repartition(8)
    want = _union_find_labels(edges)
    for max_iter in (3, 12):  # 3 forces the fold finish on the chains
        lp = _pairs(label_prop_components(df, max_iter=max_iter))
        assert lp == want, f"max_iter={max_iter}"


def test_cluster_assignments_labelprop_method(spark):
    """Label propagation is no longer a ``method`` (asking for it raises);
    the engine itself, the fold's large-forest finish, labels like the
    default."""
    rows = [(1, 2), (2, 3), (7, 9)]
    edges = spark.createDataFrame(rows, "a_id long, b_id long")
    ids = spark.range(12).select(F.col("id"))
    with pytest.raises(ValueError, match="labelprop"):
        cluster_assignments(edges, ids, id_col="id", method="labelprop")
    assert _pairs(label_prop_components(edges)) == _union_find_labels(rows)
    assert _pairs(fold_components(edges)) == _union_find_labels(rows)


def test_cluster_assignments_auto_selection(spark):
    """The default engine is the fold: default and method='fold' both
    label linked nodes by the union-find reference and self-label
    singletons."""
    rows = [(1, 2), (2, 3), (7, 9), (4, 5)]
    edges = spark.createDataFrame(rows, "a_id long, b_id long")
    ids = spark.range(12).select(F.col("id"))
    linked = dict(_union_find_labels(rows))
    want = sorted((i, linked.get(i, i)) for i in range(12))
    default = sorted(tuple(r) for r in
                     cluster_assignments(edges, ids, id_col="id").collect())
    assert default == want
    fold = sorted(tuple(r) for r in
                  cluster_assignments(edges, ids, id_col="id",
                                      method="fold").collect())
    assert fold == want


def test_cluster_assignments_checkpoint_fn(spark, tmp_path):
    """``checkpoint_fn`` is the fold's level-1 materializer: called once,
    as (forest, 0), with labels equal to the union-find reference, and it
    leaves no persisted RDD or session-conf change behind.  Any method but
    'fold' raises."""
    rows = [(1, 2), (2, 3), (7, 9), (4, 5), (9, 11)]
    edges = spark.createDataFrame(rows, "a_id long, b_id long")
    ids = spark.range(12).select(F.col("id"))
    calls = []

    def spy(df, i):
        calls.append(i)
        path = str(tmp_path / f"forest_{i}")
        df.write.parquet(path)
        return spark.read.parquet(path)

    def persisted_ids():
        # ids, not a count: the context cleaner may drop RDDs that earlier
        # tests left persisted while this one runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    confs = ("spark.sql.shuffle.partitions",
             "spark.sql.adaptive.coalescePartitions.parallelismFirst")
    rdds_before = persisted_ids()
    confs_before = [spark.conf.get(k, None) for k in confs]
    got = sorted(tuple(r) for r in
                 cluster_assignments(edges, ids, id_col="id",
                                     checkpoint_fn=spy).collect())
    assert calls == [0]
    linked = dict(_union_find_labels(rows))
    assert got == sorted((i, linked.get(i, i)) for i in range(12))
    assert persisted_ids() <= rdds_before
    assert [spark.conf.get(k, None) for k in confs] == confs_before
    for method in ("star", "labelprop"):
        with pytest.raises(ValueError, match="star"):
            cluster_assignments(edges, ids, id_col="id", method=method)


def test_fold_components_matches_star(spark):
    """The two-level spanning-forest fold is exact: identical
    (node, cluster_id) sets vs the union-find reference on cliques, long
    chains (high diameter), random graphs, and string ids — including when
    ``single_task_max_edges`` forces the labelprop finish on the
    contracted forest.  (Named for the star-round engine it was first
    checked against.)"""
    edges = _mixed_graph()
    # duplicate + reversed edges: fold must not depend on dedup/orientation
    edges += [(b, a) for a, b in edges[:20]] + edges[:10]

    df = spark.createDataFrame(edges, "a_id long, b_id long").repartition(8)
    want = _union_find_labels(edges)
    assert _pairs(fold_components(df)) == want
    # threshold 1: level-2 would exceed one task -> exact labelprop finish
    assert _pairs(fold_components(df, single_task_max_edges=1)) == want

    # string ids: min label is lexicographic, matching Spark's F.min
    sdf = df.select(
        F.concat(F.lit("n"),
                 F.lpad(F.col("a_id").cast("string"), 6, "0")).alias("a_id"),
        F.concat(F.lit("n"),
                 F.lpad(F.col("b_id").cast("string"), 6, "0")).alias("b_id"),
    )
    want_s = _union_find_labels(
        (f"n{a:06d}", f"n{b:06d}") for a, b in edges
    )
    assert _pairs(fold_components(sdf)) == want_s

    # empty edge set
    empty = spark.createDataFrame([], "a_id long, b_id long")
    assert fold_components(empty).count() == 0


def test_dedup_tier_waterfall(spark):
    """Planted 4-tier ladder: totals count each tier alone, marginals
    attribute every pair to its MIN catching rank (summing to the
    distinct pair total), new_ids attribute each node once, and a
    fully-redundant tier reports 0 marginal / 0 new ids; in-tier
    duplicate rows collapse."""
    from fuzzymatch_spark.operators.dedup import dedup_tier_waterfall

    edges = spark.createDataFrame(
        [
            (0, 1, 2), (0, 3, 4),
            (1, 1, 2), (1, 5, 6),
            (2, 3, 4), (2, 5, 6), (2, 7, 8), (2, 7, 8),
            (3, 1, 2),
        ],
        "tier_rank int, a_id long, b_id long",
    )
    out = {
        r["tier_rank"]: (r["total_pairs"], r["marginal_pairs"], r["new_ids"])
        for r in dedup_tier_waterfall(edges).collect()
    }
    assert out == {0: (2, 2, 4), 1: (2, 1, 2), 2: (3, 1, 2), 3: (1, 0, 0)}
    # marginals partition the distinct pair set
    assert sum(m for _, m, _ in out.values()) == 4


def test_decon_tier_waterfall_pattern(spark):
    """The documented decon-ladder reuse of dedup_tier_waterfall: per-tier
    flag rows fed as self-edges give flagged-doc totals and cheapest-tier
    marginal attribution — tier 0 (exact) shadows everything it flags,
    tiers only get credit for docs no cheaper tier caught."""
    from fuzzymatch_spark.operators.dedup import dedup_tier_waterfall

    # (tier, doc): exact flags {1,2}; fuzzy flags {2,3}; embedding {3,4,5}
    rows = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (2, 5)]
    flags = spark.createDataFrame(rows, "tier_rank int, doc_id long")
    wf = {r["tier_rank"]: r for r in dedup_tier_waterfall(
        flags.select("tier_rank",
                     F.col("doc_id").alias("a_id"),
                     F.col("doc_id").alias("b_id"))).collect()}
    assert wf[0]["total_pairs"] == 2 and wf[0]["marginal_pairs"] == 2
    assert wf[1]["total_pairs"] == 2 and wf[1]["marginal_pairs"] == 1  # doc 3
    assert wf[2]["total_pairs"] == 3 and wf[2]["marginal_pairs"] == 2  # 4, 5
    for r in wf.values():
        assert r["new_ids"] == r["marginal_pairs"]  # self-edges: identical
