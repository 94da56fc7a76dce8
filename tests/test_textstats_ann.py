"""Unit tests for the training-data pipeline operators: text analysis and
similarity search."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzymatch_spark.operators.ann import cosine_topk, rhp_knn_pairs
from fuzzymatch_spark.operators.textstats import (
    lang_id,
    quality_score,
    token_sorted_dedup_groups,
    token_stats,
)


@pytest.fixture(scope="module")
def mini_docs(spark):
    rows = [
        (1, "the cat and the dog is here to stay"),
        (2, "el gato que vive en la casa de los perros"),
        (3, "der hund und die katze das ist gut"),
        (4, "le chat et les chiens est une belle histoire des amis"),
        (5, "spark shuffle partition join"),
        (6, "join partition shuffle spark"),   # reorder of 5
        (7, "spark shuffle partition join"),   # exact dup of 5
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_lang_id(spark, mini_docs):
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(mini_docs, "doc_id", "text").collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "de"
    assert got[4] == "fr"
    assert got[5] == "und"


def test_token_stats(spark, mini_docs):
    r = {x["doc_id"]: x for x in token_stats(mini_docs, "doc_id", "text").collect()}
    assert r[5]["n_tokens"] == 4
    assert r[5]["n_distinct_tokens"] == 4
    assert r[1]["n_tokens"] == 9
    assert r[1]["n_distinct_tokens"] == 8  # 'the' twice
    assert abs(r[1]["type_token_ratio"] - round(8 / 9, 6)) < 1e-9


def test_quality(spark, mini_docs):
    r = {x["doc_id"]: x for x in quality_score(mini_docs, "doc_id", "text").collect()}
    assert r[1]["quality_pass"] == 1
    assert 0 < r[1]["ttr"] <= 1


def test_token_sorted_dedup(spark, mini_docs):
    groups = token_sorted_dedup_groups(mini_docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 5
    assert groups[0]["group_size"] == 3  # 5, 6 (reorder), 7 (exact)


def test_cosine_topk_matches_numpy(spark, embeddings):
    rows = embeddings.limit(200).collect()
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qv = mat[0]
    cos = (mat @ qv) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(np.round(cos, 5), [-i for i in ids]), reverse=True)[:5]
    want = [(-i, c) for c, i in order]

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, embedding array<double>",
    )
    got = [(r["vec_id"], r["cos"]) for r in
           cosine_topk(df, "embedding", [float(x) for x in qv], k=5).collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gi, gc), (wi, wc) in zip(got, want):
        assert abs(gc - wc) < 1e-4


def test_rhp_knn_finds_planted_neighbors(spark):
    rng = np.random.RandomState(3)
    base = rng.normal(size=(40, 32))
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, [float(x) for x in v]))
        # planted near neighbor: tiny perturbation → cosine ~0.999
        rows.append((i * 2 + 1, [float(x) for x in v + rng.normal(scale=0.01, size=32)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["a_id"], r["b_id"]) for r in
             rhp_knn_pairs(df, "embedding", min_cosine=0.95).collect()}
    planted = {(i * 2, i * 2 + 1) for i in range(40)}
    recall = len(planted & pairs) / len(planted)
    assert recall >= 0.9, recall


def test_ivf_topk_recall_and_pruning(spark):
    """IVF ANN: near-duplicate neighbors (planted perturbed copies of the
    query) are recovered through the probed cells, and the probe filter
    genuinely prunes most of the corpus."""
    from fuzzymatch_spark.operators.ann import (
        _centroid_matrix,
        ivf_assign,
        ivf_topk,
    )

    rng = np.random.RandomState(5)
    dim, n, n_planted = 16, 200, 8
    base = rng.normal(size=(n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    qv = base[0]
    planted = qv[None, :] + rng.normal(0, 0.05, size=(n_planted, dim))
    vecs = np.vstack([base, planted])
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = ivf_topk(df, "embedding", [float(x) for x in qv], k=n_planted + 1,
                   n_centroids=8, n_probe=2)
    got = {r["vec_id"] for r in out.collect()}
    want = {0} | set(range(n, n + n_planted))  # query itself + its copies
    recall = len(got & want) / len(want)
    assert recall >= 0.95, (sorted(got), sorted(want))

    # the probe filter prunes: assigned cells are a real partition of the
    # corpus, so 2-of-8 probes scan well under half of it
    cents, _ = _centroid_matrix(df, "embedding", "vec_id", 8)
    assigned = ivf_assign(df, "embedding", cents)
    sizes = {r["cell"]: r["count"]
             for r in assigned.groupBy("cell").count().collect()}
    assert set(sizes) <= set(range(8)) and sum(sizes.values()) == n + n_planted
    top2 = sorted(sizes.values(), reverse=True)[:2]
    assert sum(top2) < 0.7 * (n + n_planted), sizes


def test_bpe_token_stats(spark):
    """GPT-2-shaped pre-tokenizer counts: contractions split off, letter
    and digit runs counted separately, punctuation/whitespace residual."""
    from fuzzymatch_spark.operators.textstats import bpe_token_stats

    rows = [(0, "It's 42 degrees, isn't it?"), (1, "abc  def"), (2, "12ab34")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bpe_pieces"], r["n_alpha_pieces"],
                         r["n_digit_pieces"])
           for r in bpe_token_stats(df, "doc_id", "text").collect()}
    # It | 's | " 42" | " degrees" | "," | " isn" | 't | " it" | "?"
    assert got[0] == (9, 4, 1), got[0]
    # abc | "  " (letter-run takes at most one leading space) | def
    assert got[1] == (3, 2, 0), got[1]
    assert got[2] == (3, 1, 2), got[2]  # 12 | ab | 34


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing invariants: a substring shared across docs of length
    >= w + k - 1 yields a common fingerprint; density stays ~2/(w+1); and
    unrelated text shares nothing."""
    from fuzzymatch_spark.operators.suffix import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, "prefix one " + shared + " suffix alpha"),
        (1, "another beginning here " + shared + " tail"),
        (2, "completely unrelated content with other words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnow_fingerprints(df, "doc_id", "text", k=6, w=4).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[0] & fps[1], "shared run produced no common fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])
    # density: far fewer fingerprints than grams, but never zero
    n_grams0 = len(rows[0][1]) - 5
    assert 0 < len(fps[0]) < 0.7 * n_grams0


def test_mask_pii(spark):
    from fuzzymatch_spark.operators.textstats import mask_pii

    rows = [
        (0, "email a.b+c@ex.org then https://x.io/p?q=1 and 123456789 end"),
        (1, "clean words only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in mask_pii(df, "doc_id", "text").collect()}
    assert got[0]["masked_text"] == "email <EMAIL> then <URL> and <NUM> end"
    assert (got[0]["n_email"], got[0]["n_url"], got[0]["n_longnum"]) == (1, 1, 1)
    assert got[1]["masked_text"] == rows[1][1]
    assert (got[1]["n_email"], got[1]["n_url"], got[1]["n_longnum"]) == (0, 0, 0)


def test_canonical_corpus(spark):
    """Survivor selection: exactly one representative (the min id) per
    cluster, singletons untouched."""
    from fuzzymatch_spark.operators.cluster import canonical_corpus

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string")
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)],
        "doc_id long, cluster_id long")
    kept = sorted(r["doc_id"] for r in
                  canonical_corpus(docs, clusters).collect())
    assert kept == [0, 3, 4]


# ------------------------------------------------------ URL canonicalization

def test_normalize_urls_golden(spark):
    from fuzzymatch_spark.operators.textstats import normalize_urls

    rows = [
        # scheme/host case + default port + fragment + tracking params
        (1, "HTTPS://Example.COM:443/Path/One?utm_source=feed&b=2&a=1#frag"),
        # http default port; param order differs from doc 3 only
        (2, "http://site.org:80/p?b=2&a=1"),
        (3, "http://site.org/p?a=1&b=2"),
        # non-default port preserved; path case preserved
        (4, "https://Example.com:8443/CaseSensitive"),
        # all params tracking -> no query at all
        (5, "https://x.io/q?utm_campaign=c&gclid=g&fbclid=f"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r for r in
           normalize_urls(df, "doc_id", "url").collect()}
    assert out[1]["url_norm"] == "https://example.com/Path/One?a=1&b=2"
    assert out[2]["url_norm"] == "http://site.org/p?a=1&b=2"
    # order-insensitive + default-port-insensitive: 2 and 3 collide
    assert out[2]["url_key"] == out[3]["url_key"]
    assert out[4]["url_norm"] == "https://example.com:8443/CaseSensitive"
    assert out[5]["url_norm"] == "https://x.io/q"
    import hashlib
    assert out[5]["url_key"] == hashlib.md5(b"https://x.io/q").hexdigest()


def test_normalize_urls_no_scheme_and_no_query(spark):
    from fuzzymatch_spark.operators.textstats import normalize_urls

    df = spark.createDataFrame(
        [(1, "https://a.b/c"), (2, "relative/path#x")],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r["url_norm"] for r in
           normalize_urls(df, "doc_id", "url").collect()}
    assert out[1] == "https://a.b/c"       # already canonical: unchanged
    assert out[2] == "relative/path"       # fragment stripped, passthrough


# ------------------------------------------- repeated-substring coverage

def test_repeated_substring_stats_golden(spark):
    from fuzzymatch_spark.operators.suffix import repeated_substring_stats

    docs = spark.createDataFrame([
        (1, "0123456789qwrtypsd"),   # shares a 10-char run with doc 2
        (2, "zz0123456789kkkk"),
        (3, "abc"),                  # shorter than L: zero windows
        (4, "ABCDEFGHABCDEFGH"),     # WITHIN-doc repeat: full coverage
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           repeated_substring_stats(docs, "doc_id", "text",
                                    window_len=8, sample_mod=1).collect()}
    r1 = out[1]
    assert (r1["n_windows"], r1["n_dup_windows"]) == (11, 3)
    assert r1["dup_span_chars"] == 10           # union of [1,8],[2,9],[3,10]
    assert r1["dup_span_frac"] == round(10 / 18, 6)
    r2 = out[2]
    assert r2["dup_span_chars"] == 10
    assert r2["dup_span_frac"] == 0.625
    r3 = out[3]
    assert (r3["n_windows"], r3["dup_span_frac"]) == (0, 0.0)
    r4 = out[4]
    assert (r4["n_dup_windows"], r4["dup_span_chars"]) == (2, 16)
    assert r4["dup_span_frac"] == 1.0


def test_repeated_substring_stats_sampling_is_alignment_free(spark):
    import string

    from fuzzymatch_spark.operators.suffix import repeated_substring_stats

    # content-defined sampling keeps/drops a window by its CONTENT, so a
    # shared run is detected regardless of where it sits in each doc —
    # including offsets NOT congruent mod k (the case positional
    # striding provably misses).  60-char shared run, offsets 4 and 1.
    run = (string.ascii_lowercase + string.digits +
           string.ascii_uppercase)[:60]
    docs = spark.createDataFrame([
        (1, "!@#$" + run + "%^&*"),   # run starts at pos 5 (1-based)
        (2, run + "~~~~"),            # run starts at pos 1: 5 != 1 mod 4
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           repeated_substring_stats(docs, "doc_id", "text",
                                    window_len=8, sample_mod=4).collect()}
    assert out[1]["n_dup_windows"] >= 1
    assert out[2]["n_dup_windows"] >= 1
    # both docs sample the IDENTICAL windows of the run
    assert out[1]["n_dup_windows"] == out[2]["n_dup_windows"]
    assert out[1]["dup_span_chars"] >= 8
    # k=1 on the same data is exact and covers the full run
    exact = {r["doc_id"]: r for r in
             repeated_substring_stats(docs, "doc_id", "text",
                                      window_len=8,
                                      sample_mod=1).collect()}
    assert exact[1]["dup_span_chars"] == 60
    # sampled coverage is a lower bound of the exact coverage
    assert out[1]["dup_span_chars"] <= exact[1]["dup_span_chars"]


def test_normalize_urls_colon_authorities(spark):
    from fuzzymatch_spark.operators.textstats import normalize_urls

    # authorities containing ':' (IPv6 literal, userinfo password): the
    # default-port strip must still apply so refetch pairs share a key
    df = spark.createDataFrame([
        (1, "https://[2001:db8::1]:443/x"),
        (2, "https://[2001:db8::1]/x"),
        (3, "http://user:pw@host.io:80/y"),
        (4, "http://user:pw@host.io/y"),
        (5, "https://host.io:8443/z"),   # non-default port: preserved
    ], "doc_id long, url string")
    out = {r["doc_id"]: r for r in
           normalize_urls(df, "doc_id", "url").collect()}
    assert out[1]["url_key"] == out[2]["url_key"]
    assert out[3]["url_key"] == out[4]["url_key"]
    assert out[5]["url_norm"].endswith(":8443/z")


def test_pq_encode_and_adc_match_numpy(spark):
    """Product quantization: codes equal the brute-force numpy assignment,
    codewords encode to themselves, and the ADC top-k ranking equals the
    numpy ADC reference (including an exact planted duplicate of the
    query, which must score cos == 1.0 alongside the query itself)."""
    from fuzzymatch_spark.operators.ann import (
        _pq_codebooks,
        pq_adc_topk,
        pq_encode,
    )

    rng = np.random.RandomState(11)
    n, dim, m, n_codes = 120, 32, 4, 16
    sub = dim // m
    mat = rng.normal(size=(n, dim))
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(mat)]
    rows.append((1000, [float(x) for x in mat[0]]))  # exact dup of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cb = _pq_codebooks(df, "embedding", "vec_id", m, n_codes)
    assert cb.shape == (m, n_codes, sub)
    # cb[s, c] is row c's s-th sub-vector
    for c in (0, 7, 15):
        for s in range(m):
            assert np.allclose(cb[s, c], mat[c, s * sub:(s + 1) * sub])

    # numpy reference assignment over the full corpus (+ the dup row)
    allmat = np.vstack([mat, mat[0][None, :]])
    mm = allmat.reshape(len(allmat), m, sub)
    dist = np.round(((mm[:, :, None, :] - cb[None]) ** 2).sum(-1), 6)
    want_codes = dist.argmin(axis=2)
    ids = list(range(n)) + [1000]

    got = {r["vec_id"]: list(r["pq_codes"])
           for r in pq_encode(df, "embedding", cb).collect()}
    for row_i, vid in enumerate(ids):
        assert got[vid] == list(want_codes[row_i]), vid
    for c in range(n_codes):  # codewords self-encode (distance 0)
        assert got[c] == [c] * m

    # ADC reference ranking
    q = allmat[0]
    qs = q.reshape(m, sub)
    dlut = np.round(np.einsum("sj,scj->sc", qs, cb), 6)
    nlut = np.round((cb ** 2).sum(-1), 6)
    srange = np.arange(m)[None, :]
    adc = dlut[srange, want_codes].sum(1)
    rsq = nlut[srange, want_codes].sum(1)
    cos = np.round(adc / (np.linalg.norm(q) * np.sqrt(rsq)), 5)
    order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:10]
    want = [(ids[i], cos[i]) for i in order]

    codes_df = pq_encode(df, "embedding", cb).select("vec_id", "pq_codes")
    out = [(r["vec_id"], r["cos"]) for r in
           pq_adc_topk(codes_df, cb, [float(x) for x in q], k=10).collect()]
    assert [o[0] for o in out] == [w[0] for w in want]
    for (gi, gc), (wi, wc) in zip(out, want):
        assert abs(gc - wc) < 2e-5, (gi, gc, wc)
    # the query IS codeword 0 -> exact reconstruction -> cos 1.0; its
    # exact duplicate (id 1000, same codes) ties at 1.0 right behind it
    assert out[0] == (0, 1.0)
    assert out[1] == (1000, 1.0)


def test_pq_adc_zero_norm_guard(spark):
    """An all-zero codeword reconstruction pins cos := 0 (never NaN/inf),
    mirroring the k-means zero-norm convention."""
    from fuzzymatch_spark.operators.ann import pq_adc_topk
    import numpy as np

    cb = np.zeros((2, 2, 2))
    cb[:, 1, :] = 1.0  # code 1 is nonzero; code 0 reconstructs to zero
    codes_df = spark.createDataFrame(
        [(0, [0, 0]), (1, [1, 1])], "vec_id long, pq_codes array<int>"
    )
    out = {r["vec_id"]: r["cos"] for r in
           pq_adc_topk(codes_df, cb, [1.0, 1.0, 1.0, 1.0], k=2).collect()}
    assert out[0] == 0.0
    assert abs(out[1] - 1.0) < 1e-9


def test_decontaminate_embeddings_gemm(spark):
    """Embedding-tier decontamination: perturbed copies of two corpus
    vectors in the benchmark flag exactly those rows, with hits and max
    cosine equal to a numpy brute force; the screen is a projection (no
    join, no exchange); a zero vector and an empty benchmark flag
    nothing."""
    from fuzzymatch_spark.operators.ann import decontaminate_embeddings

    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 16).astype(np.float64)
    bvecs = [vecs[3] + 0.02, vecs[7] + 0.02, rng.randn(16)]  # ev_far: none
    # a zero vector (empty-doc embedding) must not abort the screen:
    # cos := 0 to everything (the kmeans convention)
    cvecs = {i: vecs[i] for i in range(60)}
    cvecs[999] = np.zeros(16)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in cvecs.items()],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(f"ev_{j}", [float(x) for x in v]) for j, v in enumerate(bvecs)],
        "bench_id string, embedding array<double>",
    )

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return round(float(a @ b) / (na * nb), 4) if na * nb > 0 else 0.0

    want = {}
    for i, v in cvecs.items():
        hits = [c for c in (cos(v, b) for b in bvecs) if c >= 0.95]
        want[i] = (len(hits), max(hits) if hits else None, int(bool(hits)))

    out = decontaminate_embeddings(corpus, bench, min_cosine=0.95)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan

    rows = {r["vec_id"]: r for r in out.collect()}
    assert len(rows) == 61
    assert {i for i, w in want.items() if w[2]} == {3, 7}
    for i, r in rows.items():
        n, mx, flag = want[i]
        assert (r["n_bench_hits"], r["contaminated"]) == (n, flag), i
        if mx is None:
            assert r["max_cos"] is None, i
        else:
            assert abs(r["max_cos"] - mx) < 1e-9, i

    # empty benchmark: identity flags, nothing contaminated
    empty = decontaminate_embeddings(corpus, bench.limit(0))
    assert empty.filter(F.col("contaminated") == 1).count() == 0


def test_embedding_screen_null_and_ragged_vectors(spark, tmp_path):
    """A NULL corpus vector is clean (no hits, NULL max_cos) whether its
    Arrow batch mixes it with real vectors or holds only NULLs, and a
    NULL benchmark vector matches nothing; a vector of the wrong length
    raises naming both lengths — through ``decontaminate_embeddings``
    and the streaming sink's screen."""
    from fuzzymatch_spark.operators.ann import decontaminate_embeddings
    from fuzzymatch_spark.streaming.ingest import make_decontamination_sink

    rng = np.random.RandomState(5)
    vecs = [[float(x) for x in rng.randn(8)] for _ in range(3)]
    bench = spark.createDataFrame(
        [("ev", [x + 0.02 for x in vecs[1]]), ("ev_null", None)],
        "bench_id string, embedding array<double>",
    )
    schema = "doc_id long, text string, embedding array<double>"
    mixed = spark.createDataFrame(
        [(0, "a", vecs[0]), (1, "b", vecs[1]), (2, "c", None),
         (3, "d", vecs[2]), (4, "e", None)], schema,
    ).coalesce(1)
    all_null = mixed.filter(F.col("embedding").isNull())
    ragged = spark.createDataFrame(
        [(5, "f", vecs[0]), (6, "g", vecs[2][:5])], schema
    ).coalesce(1)

    def flags(df):
        return {r["doc_id"]: (r["n_bench_hits"], r["max_cos"],
                              r["contaminated"])
                for r in decontaminate_embeddings(df, bench).collect()}

    got = flags(mixed)
    assert got[2] == got[4] == (0, None, 0)
    assert got[1][0] == 1 and got[1][2] == 1
    assert flags(all_null) == {2: (0, None, 0), 4: (0, None, 0)}
    with pytest.raises(Exception, match="has 5 elements, the benchmark "
                                        "vectors have 8"):
        decontaminate_embeddings(ragged, bench).collect()

    sink = make_decontamination_sink(
        spark, str(tmp_path / "decon"), "doc_id", "text",
        spark.createDataFrame([(900, "zzz qqq")], "doc_id long, text string"),
        fuzzy=False, bench_embeddings_df=bench,
    )
    sink(mixed, 0)
    sink(all_null, 1)
    flagged = spark.read.parquet(str(tmp_path / "decon" / "flagged"))
    clean = spark.read.parquet(str(tmp_path / "decon" / "clean"))
    assert [r["doc_id"] for r in flagged.collect()] == [1]
    assert sorted(
        (r["doc_id"], r["batch"]) for r in clean.collect()
    ) == [(0, 0), (2, 0), (2, 1), (3, 0), (4, 0), (4, 1)]
    with pytest.raises(Exception, match="has 5 elements"):
        sink(ragged, 2)


def test_decontaminate_embeddings_sharded_matches_unsharded(spark):
    """Benchmark sharding for closure-budget overflow: the per-shard GEMM
    screens combine (hits add, max-cos maxes) to exactly the unsharded
    flags — including a bench row landing alone in its shard and shard
    counts exceeding the bench size (empty shards)."""
    import numpy as np

    from fuzzymatch_spark.operators.ann import (
        decontaminate_embeddings,
        decontaminate_embeddings_sharded,
    )

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 12).astype(np.float64)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(f"ev_{j}", [float(x) + 0.02 for x in vecs[j]]) for j in (2, 9, 11)]
        + [("ev_dup", [float(x) - 0.02 for x in vecs[9]])],  # 2nd hit on 9
        "bench_id string, embedding array<double>",
    )
    want = sorted(
        (r["vec_id"], r["n_bench_hits"], r["max_cos"])
        for r in decontaminate_embeddings(
            corpus, bench, min_cosine=0.95).collect()
    )
    for n_shards in (1, 3, 8):
        got = sorted(
            (r["vec_id"], r["n_bench_hits"], r["max_cos"])
            for r in decontaminate_embeddings_sharded(
                corpus, bench, n_shards=n_shards).collect()
        )
        assert got == want, n_shards

    with pytest.raises(ValueError, match="n_shards"):
        decontaminate_embeddings_sharded(corpus, bench, n_shards=0)
