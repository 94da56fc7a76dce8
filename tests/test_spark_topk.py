"""top_matches through Spark must agree with the brute-force kernel scorer
(M1 gate: distributed result == single-node reference semantics)."""

import pytest
from pyspark.sql import functions as F

from fuzzymatch_spark.config import MatchConfig
from fuzzymatch_spark.kernels.scoring import prepare_query, score_pair
from fuzzymatch_spark.operators.topk import score_candidates, top_matches

CORPUS = [
    "getUserById",
    "getUser",
    "GetUserProfile",
    "debugging",
    "user_database",
    "parse_json_config",
    "fuzzy match engine",
    "Bristol-Myers Squibb",
    "goldman sachs group",
    "the quick brown fox",
    "getUserByIdAsync",
    "configUser",
    "Ärger Straße über",   # non-ASCII: exercises the sentinel fallback path
    "усерфайл userfile",
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame([(i, c) for i, c in enumerate(CORPUS)], "id int, text string")


def brute_force(query, config, k=None):
    q = prepare_query(query, config)
    rows = []
    for c in CORPUS:
        r = score_pair(c, q)
        if r is not None:
            rows.append((c, r[0], r[1]))
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows[:k] if k else rows


@pytest.mark.parametrize("query", ["getUser", "gubi", "bms", "quick", "usr"])
def test_matches_equal_brute_force(spark, corpus_df, query):
    cfg = MatchConfig()
    got = {
        (r["text"], round(r["score"], 9), r["kind"])
        for r in score_candidates(corpus_df, "text", query, cfg).collect()
    }
    want = {(c, round(s, 9), k) for c, s, k in brute_force(query, cfg)}
    assert got == want


def test_top_k_order(spark, corpus_df):
    cfg = MatchConfig()
    got = [
        (r["text"], round(r["score"], 9))
        for r in top_matches(corpus_df, "text", "getUser", k=3, config=cfg).collect()
    ]
    want = [(c, round(s, 9)) for c, s, _ in brute_force("getUser", cfg, k=3)]
    assert got == want


def test_prefilter_with_mask_column(spark, corpus_df):
    """Precomputed signature path: same results, JVM-side bit_count filter."""
    from fuzzymatch_spark.operators.dedup import compute_signatures

    cfg = MatchConfig()
    sig = compute_signatures(corpus_df, "id", "text").cache()
    got = {
        (r["text"], round(r["score"], 9))
        for r in score_candidates(sig, "text", "getUser", cfg, mask_col="char_mask").collect()
    }
    want = {(c, round(s, 9)) for c, s, _ in brute_force("getUser", cfg)}
    assert got == want


def test_smith_waterman_mode(spark, corpus_df):
    cfg = MatchConfig(algorithm="smithWaterman")
    got = {
        (r["text"], round(r["score"], 9), r["kind"])
        for r in score_candidates(corpus_df, "text", "goldman sachs", cfg).collect()
    }
    want = {(c, round(s, 9), k) for c, s, k in brute_force("goldman sachs", cfg)}
    assert got == want


def test_flagship_on_documents(spark, documents):
    out = top_matches(documents, "text", "spark window batch", k=5).collect()
    assert len(out) == 5
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_top_matches_levenshtein_restricted_plan(spark, corpus_df):
    """The oracle-checkable restricted config: score = 1 - lev/max(len),
    brute-force parity + derived prefilter soundness."""
    from fuzzymatch_spark.kernels.editdist import batch_levenshtein
    from fuzzymatch_spark.operators.topk import top_matches_levenshtein

    query, s = "getUser", 0.3
    got = [
        (r["text"], r["dist"], r["score"])
        for r in top_matches_levenshtein(
            corpus_df, "text", query, k=5, min_score=s
        ).collect()
    ]
    qb = query.encode()
    dists = batch_levenshtein(
        [qb] * len(CORPUS), [c.encode() for c in CORPUS], 100
    )
    want = []
    for c, d in zip(CORPUS, dists):
        score = round(1.0 - d / max(len(qb), len(c.encode())), 6)
        if score >= s:
            want.append((c, int(d), score))
    want.sort(key=lambda t: (-t[2], t[0]))
    assert got == want[:5]
    assert len(got) > 0


def test_top_matches_fields_single_field(spark, corpus_df):
    """A one-field pool must degrade to top_matches instead of crashing in
    F.greatest (needs >= 2 cols)."""
    from fuzzymatch_spark.operators.topk import top_matches, top_matches_fields

    cfg = MatchConfig(min_score=0.3)
    one = top_matches_fields(corpus_df, ["text"], "getUser", k=3, config=cfg)
    rows = one.collect()
    assert all(r["field"] == "text" for r in rows)
    base = top_matches(corpus_df, "text", "getUser", k=3, config=cfg).collect()
    assert [(r["text"], r["score"]) for r in rows] == [
        (r["text"], r["score"]) for r in base
    ]


def test_score_candidates_replaces_score_and_kind_in_place(spark, corpus_df):
    """An input that already has ``score``/``kind`` (or a ``_m``) columns
    gets them replaced where they stand, as ``withColumn`` would; new
    columns go last."""
    cfg = MatchConfig()
    plain = score_candidates(corpus_df, "text", "getUser", cfg)
    assert plain.columns == ["id", "text", "score", "kind"]
    want = {(r["text"], r["score"], r["kind"]) for r in plain.collect()}

    stale = corpus_df.selectExpr(
        "-1.0D AS score", "id", "'stale' AS kind", "text", "0 AS _m"
    )
    out = score_candidates(stale, "text", "getUser", cfg)
    assert out.columns == ["score", "id", "kind", "text"]
    assert out.schema["score"].dataType.typeName() == "double"
    assert {(r["text"], r["score"], r["kind"]) for r in out.collect()} == want

    only_kind = corpus_df.selectExpr("text", "'stale' AS KIND")
    out = score_candidates(only_kind, "text", "getUser", cfg)
    assert out.columns == ["text", "kind", "score"]
    assert {(r["text"], r["score"], r["kind"]) for r in out.collect()} == want
