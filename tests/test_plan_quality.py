"""Physical-plan quality gates (the 100 TB story, SURVEY.md §4):

* column pruning reaches the parquet scan (never read what you don't use —
  in particular never read a binary payload column for a text query)
* cheap column prefilters sit BELOW the Python stage in top_matches
* similarity band joins and their verification are pure JVM (no Python
  eval node anywhere in the plan)
* the fingerprint/band/bit_count pipeline stays inside WholeStageCodegen
"""

import re

import pytest
from pyspark.sql import functions as F

from fuzzymatch_spark.config import DedupConfig, MatchConfig
from fuzzymatch_spark.operators.dedup import (
    _hamming_band_edges,
    ngram_jaccard_pairs,
    compute_signatures,
)
from fuzzymatch_spark.operators.textstats import fingerprint_bands, token_stats
from fuzzymatch_spark.operators.topk import score_candidates


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def wide_docs(spark, documents):
    # add a fat binary column the queries must NOT read
    return documents.withColumn("payload", F.encode(F.col("text"), "utf-8"))


def test_column_pruning_excludes_payload(spark, wide_docs, tmp_path):
    path = str(tmp_path / "wide.parquet")
    wide_docs.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    q = token_stats(df, "doc_id", "text")
    plan = formatted(q)
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m, plan
    assert "payload" not in m.group(1), m.group(1)
    assert "text" in m.group(1)


def test_prefilters_below_python_stage(spark, documents):
    q = score_candidates(documents, "text", "straem", MatchConfig())
    plan = plan_of(q)
    # octet_length filter must appear in the plan, and the scan->filter
    # section must come before (i.e., deeper than) the Arrow Python eval
    assert "octet_length" in plan
    py = plan.index("ArrowEvalPython") if "ArrowEvalPython" in plan else plan.index("EvalPython")
    flt = plan.index("octet_length")
    assert flt > py, "length prefilter should be below (after, in tree print) the Python stage"


def test_band_join_is_jvm_only(spark, documents):
    fp = fingerprint_bands(documents, "doc_id", "text")
    a = fp.alias("a")
    b = fp.alias("b")
    pairs = (
        a.join(b, on=["band", "key"]).filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    plan = plan_of(pairs)
    assert "Python" not in plan, "band join must not invoke Python"
    assert "Join" in plan


def test_hamming_band_verify_uses_bit_count(spark, documents):
    df = documents.select(
        F.col("doc_id").alias("id"),
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    edges = _hamming_band_edges(df, "id", "h", 4, 3, "test")
    plan = plan_of(edges)
    assert "bit_count" in plan
    assert "Python" not in plan


def test_jaccard_join_post_signature_is_jvm(spark, documents):
    sig = compute_signatures(documents.limit(50), "doc_id", "text", DedupConfig())
    pairs = ngram_jaccard_pairs(sig, threshold_pct=98)
    plan = plan_of(pairs)
    # only the fused signature UDF touches Python (Arrow-batched); there is
    # never a row-at-a-time Python eval node
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    # the jaccard threshold is integer arithmetic, present in the plan
    assert "100" in plan


def test_multi_query_workload_is_one_pass(spark, documents):
    """A 10-query workload must be ONE corpus scan + ONE Arrow Python stage
    (the reference's 197-query benchmark loop distributed, not repeated)."""
    from fuzzymatch_spark.operators.topk import top_matches_multi

    qdf = spark.createDataFrame(
        [("straem",), ("batch",), ("shufle",), ("parquet",), ("window",),
         ("joinn",), ("tabel",), ("scann",), ("merge",), ("sort",)],
        "query string",
    )
    out = top_matches_multi(documents, "text", qdf, k=5)
    plan = plan_of(out)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_exchange_reuse_or_aqe_present(spark, documents):
    sig = compute_signatures(documents.limit(50), "doc_id", "text", DedupConfig())
    pairs = ngram_jaccard_pairs(sig, threshold_pct=98)
    plan = plan_of(pairs)
    assert "AdaptiveSparkPlan" in plan


def test_levenshtein_topk_prefilter_below_python(spark, documents):
    """The restricted flagship config keeps the derived length prefilter
    below its Arrow kernel, like the full cascade."""
    from fuzzymatch_spark.operators.topk import top_matches_levenshtein

    vocab = (
        documents.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )
    plan = plan_of(top_matches_levenshtein(vocab, "token", "straem", k=5))
    py = plan.find("ArrowEvalPython")
    assert py != -1
    below = plan[py:]
    assert "octet_length" in below, "length prefilter not below the kernel"


def test_passjoin_candidates_jvm_only(spark, documents):
    """PassJoin candidate generation (segment keys, windows, join) is pure
    JVM; Python appears only in the final Levenshtein verify."""
    from fuzzymatch_spark.operators.fuzzyjoin import fuzzy_token_candidates

    vocab = (
        documents.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )
    plan = plan_of(fuzzy_token_candidates(vocab, 2))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ivf_probe_filter_is_jvm(spark, embeddings):
    """The IVF probe is a JVM isin filter over the assigned cell (partition
    pruning at scale); the only Python stage is the one BLAS assignment."""
    from fuzzymatch_spark.operators.ann import ivf_topk

    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    plan = plan_of(ivf_topk(embeddings, "embedding", qv, k=5,
                            n_centroids=4, n_probe=2))
    assert plan.count("ArrowEvalPython") <= 1
    assert re.search(r"cell#\d+ IN", plan) or " IN (" in plan


def test_ivf_stored_index_prunes_partitions(spark, embeddings, tmp_path):
    """ivf_build writes the index partitioned by cell; probing it must be
    PARTITION PRUNING at the parquet source (PartitionFilters on cell), not
    a scan-and-discard — the structural form of the 1 - n_probe/C skip."""
    from fuzzymatch_spark.operators.ann import (
        ivf_build,
        ivf_probe_topk,
        ivf_topk,
    )

    idx = str(tmp_path / "ivf_index")
    ivf_build(embeddings, "embedding", idx, n_centroids=4)
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    out = ivf_probe_topk(spark, idx, qv, k=5, n_probe=2)
    plan = plan_of(out)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "cell" in m.group(1) and " IN " in m.group(1), m.group(1)
    # stored-index probe result == inline ivf_topk (same codebook math)
    inline = ivf_topk(embeddings, "embedding", qv, k=5, n_centroids=4,
                      n_probe=2)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in inline.collect()
    ]


# ---------------------------------------------------------- corpus curation

def test_repetition_stats_plan_has_no_exchange(spark, documents):
    from fuzzymatch_spark.operators.corpus import repetition_stats

    plan = plan_of(repetition_stats(documents, "doc_id", "text"))
    # the whole computation is within-row array folds: a map-only stage
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_decontaminate_broadcasts_benchmark(spark, documents):
    from fuzzymatch_spark.operators.corpus import decontaminate_ngrams

    bench = documents.filter(F.col("source") == "src0")
    plan = plan_of(
        decontaminate_ngrams(documents, bench, "doc_id", "text", n=3)
    )
    # the gram-hit join must be broadcast (corpus side never shuffles on
    # the gram key); no sort-merge join anywhere
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tfidf_filters_tokens_before_exchange(spark, documents):
    from fuzzymatch_spark.operators.corpus import tfidf_topk

    plan = plan_of(
        tfidf_topk(documents, "dup spark window", "doc_id", "text", k=20)
    )
    # the query-vocabulary IN-filter must sit below the first aggregate
    # exchange: selectivity lands before any shuffle
    first_exchange = plan.index("Exchange")
    fil = re.search(r"Filter .*tok#\d+ IN", plan)
    assert fil, plan
    assert fil.start() > first_exchange, (
        "vocabulary filter should be deeper in the tree (below the "
        "exchange printed above it)"
    )


def test_kmeans_assignment_plan_is_jvm_only(spark, embeddings):
    from fuzzymatch_spark.operators.ann import kmeans_lloyd

    plan = plan_of(kmeans_lloyd(embeddings, "embedding", k=4, iters=2))
    # assignment = k codegen dot products; no Python stage anywhere (a
    # pandas UDF here would sit under the update's posexplode and trip
    # Catalyst's UDF extraction into interpreted eval)
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan  # final assignment pass is map-only


def test_image_exact_dup_edges_payload_below_exchange(spark):
    """Tier-0 image dedup: the md5/length digest is computed below the
    exchange (where the bytes live) and the binary payload never appears
    above it — only (digest, length, id) shuffle."""
    from fuzzymatch_spark.operators.dedup import image_exact_dup_edges

    df = spark.createDataFrame(
        [("i1", bytearray(b"x" * 64)), ("i2", bytearray(b"x" * 64)),
         ("i3", bytearray(b"y" * 64))],
        "image_id string, bytes binary",
    )
    out = image_exact_dup_edges(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    first_ex = plan.index("Exchange")
    # md5 is computed in a child (printed below) of the first exchange
    assert "md5" in plan[first_ex:], plan
    # the payload column reference never rides above an exchange
    # (attribute refs print as bytes#<id>; the 'exact_bytes' literal is fine)
    assert "bytes#" not in plan[:first_ex], plan[:first_ex]
    got = {(r["a_id"], r["b_id"], r["source"]) for r in out.collect()}
    assert got == {("i1", "i2", "exact_bytes")}


def test_fold_components_single_exchange(spark):
    """The fold's returned plan is: checkpointed level-1 forest -> ONE
    single-partition exchange -> level-2 kernel.  No other shuffle, no
    iterative rounds."""
    from fuzzymatch_spark.operators.cluster import fold_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "a_id long, b_id long"
    )
    out = fold_components(edges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" in plan, plan


def test_no_python_rdd_probes_in_source():
    """Hot API paths must not build Python conversion RDDs: the only
    allowed partition probe is the cached JVM one in plans/parallelism."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "fuzzymatch_spark"
    offenders = []
    for p in root.rglob("*.py"):
        if p.name == "parallelism.py":
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"\.rdd\b", line) and not line.lstrip().startswith("#"):
                offenders.append(f"{p}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_bloom_decontamination_is_jvm_only(spark, documents):
    """The Bloom build and probe must stay in whole-stage codegen — no
    Python stage anywhere in either plan (the filter is a column
    expression, not a UDF)."""
    from pyspark.sql import functions as F

    from fuzzymatch_spark.operators.corpus import decontaminate_ngrams_bloom

    docs = documents.select("doc_id", "source", "text")
    bench = docs.filter(F.col("source") == "src0").drop("source")
    out = decontaminate_ngrams_bloom(
        docs, bench, "doc_id", "text", n=4, expected_grams=100_000
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan          # no Arrow/Batch Python stages
    assert "PythonUDF" not in plan


def test_fuzzy_decontamination_bench_side_broadcasts(spark, documents):
    from fuzzymatch_spark.operators.corpus import decontaminate_fuzzy

    bench = documents.filter(F.col("source") == "src0")
    plan = plan_of(
        decontaminate_fuzzy(documents, bench, "doc_id", "text")
    )
    # band candidates AND shingle verification both join the (small)
    # benchmark side via broadcast; the corpus never shuffles on a band
    # or pair key — no sort-merge join in the whole plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_lm_unigram_tables_broadcast(spark, documents):
    from fuzzymatch_spark.operators.corpus import bigram_logprob

    plan = plan_of(bigram_logprob(documents, "doc_id", "text"))
    # the two vocabulary-sized unigram joins (conditional denominator on
    # w1, backoff on w2) and the 1-row totals must be broadcast; only
    # the bigram-count build and the per-doc mean may exchange
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_unimax_is_one_corpus_pass(spark, documents):
    from fuzzymatch_spark.operators.corpus import unimax_alloc

    plan = plan_of(unimax_alloc(documents, "lang", "text"))
    # the corpus is scanned for token counts; everything after runs on
    # O(L) group rows — no Python stage anywhere, default budget comes
    # from a broadcast, not a collect
    assert "EvalPython" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_pq_adc_scan_is_jvm_only_zero_exchange(spark, embeddings, tmp_path):
    """The ADC serving path over STORED PQ codes: the per-row math is LUT
    lookups shipped as literals (transform + aggregate in codegen) and the
    top-k is TakeOrdered — no Python stage, no Exchange anywhere, and the
    scan reads only (vec_id, pq_codes), never a float vector column."""
    import numpy as np

    from fuzzymatch_spark.operators.ann import (
        _pq_codebooks,
        pq_adc_topk,
        pq_encode,
    )

    emb = embeddings.limit(64)
    cb = _pq_codebooks(emb, "embedding", "vec_id", m=8, n_codes=16)
    path = str(tmp_path / "pq_codes.parquet")
    # codes are stored NEXT TO the float column, as an index build would
    pq_encode(emb, "embedding", cb).write.mode("overwrite").parquet(path)
    codes = spark.read.parquet(path)

    qv = [float(x) for x in np.asarray(cb[:, 0, :]).reshape(-1)]
    q = pq_adc_topk(codes, cb, qv, k=10)
    assert q.count() == 10
    plan = formatted(q)
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m and "embedding" not in m.group(1), plan


def test_tile_and_mirror_dedup_payload_below_exchange(spark):
    """The r6 image-dedup additions keep the payload invariant: the
    per-tile / canonical pHash UDF consumes the binary column at the
    scan, and only (id, long) attribute refs ride above any exchange."""
    from fuzzymatch_spark.config import DedupConfig
    from fuzzymatch_spark.operators.multimodal import (
        image_tile_dup_pairs,
        mirror_dup_pairs,
    )
    from fuzzymatch_spark.sources.images import encode_image, synth_pixels

    df = spark.createDataFrame(
        [(f"i{k}", encode_image(synth_pixels(f"i{k}"), "png"))
         for k in range(4)],
        "image_id string, bytes binary",
    )
    from fuzzymatch_spark.operators.multimodal import image_dedup_edges

    for out in (
        image_tile_dup_pairs(df, grid=3),
        mirror_dup_pairs(df, DedupConfig()),
        image_dedup_edges(df, DedupConfig()),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        first_ex = plan.index("Exchange")
        assert "bytes#" not in plan[:first_ex], plan[:first_ex]


def _jobs_of(spark, df) -> tuple[list, int]:
    """(collected rows, jobs the collect ran), counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _single_file(spark, tmp_path, name, n_rows):
    path = str(tmp_path / name)
    (spark.range(n_rows)
     .selectExpr("id", "concat('query', id % 97, ' row ', id) AS text")
     .coalesce(1).write.parquet(path))
    return spark.read.parquet(path)


def test_small_topk_input_skips_exchange(spark, tmp_path, monkeypatch):
    """A single-file input below the byte floor is scored in its one task:
    no round-robin exchange, one job, and the rows of the spread plan."""
    from fuzzymatch_spark.operators import topk
    from fuzzymatch_spark.plans.parallelism import SMALL_INPUT_BYTES, plan_probe

    df = _single_file(spark, tmp_path, "tiny", 40)
    n, size = plan_probe(df)
    assert n == 1 and size < SMALL_INPUT_BYTES
    small = topk.top_matches(df, "text", "qeury", k=5)
    assert "RoundRobinPartitioning" not in plan_of(small)
    rows, jobs = _jobs_of(spark, small)
    assert jobs == 1 and rows

    monkeypatch.setattr(topk, "SMALL_INPUT_BYTES", 0)
    spread = topk.top_matches(df, "text", "qeury", k=5)
    assert "RoundRobinPartitioning" in plan_of(spread)
    assert spread.collect() == rows


def test_large_topk_input_keeps_exchange(spark, tmp_path):
    """A single-file input above the floor still spreads over the cores."""
    from fuzzymatch_spark.operators import topk
    from fuzzymatch_spark.plans.parallelism import SMALL_INPUT_BYTES, plan_probe

    df = _single_file(spark, tmp_path, "big", 20_000)
    n, size = plan_probe(df)
    assert n == 1 and size >= SMALL_INPUT_BYTES
    assert "RoundRobinPartitioning" in plan_of(topk.top_matches(df, "text", "qeury"))


def test_wide_topk_input_has_no_exchange(spark):
    """An input already as wide as the cores is never repartitioned."""
    from fuzzymatch_spark.operators import topk

    wide = spark.range(0, 400, 1, spark.sparkContext.defaultParallelism).selectExpr(
        "concat('query', id) AS text"
    )
    assert "RoundRobinPartitioning" not in plan_of(topk.top_matches(wide, "text", "qeury"))


def test_image_source_keeps_exchange_for_small_input(spark, tmp_path):
    """Callers other than single-query top-k pass no floor: a small
    single-file docs frame still spreads its image synthesis."""
    from fuzzymatch_spark.plans.parallelism import SMALL_INPUT_BYTES, plan_probe
    from fuzzymatch_spark.sources.images import build_images_df

    docs = _single_file(spark, tmp_path, "docs", 20).withColumnRenamed("id", "doc_id")
    assert plan_probe(docs)[1] < SMALL_INPUT_BYTES
    images = build_images_df(spark, docs, "doc_id", "text")
    assert "RoundRobinPartitioning" in plan_of(images)
