"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship fuzzy top-k on sf0.001.
``queries()``      — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()``   — DuckDB-runnable ANSI SQL equivalents; omitted only for
                     kernel-UDF / hash-seeded operators (rows-only checks),
                     which are instead pinned by golden fixtures in tests/.

Column names and types are aligned across engines (driver hashes values of
columns sorted by name); float columns are rounded identically on both
sides; threshold comparisons are integer-only where cross-engine float
equality would be fragile.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from fuzzymatch_spark.config import DedupConfig, MatchConfig
from fuzzymatch_spark.functions.udfs import minhash_params
from fuzzymatch_spark.operators.ann import (
    cosine_dup_pairs,
    cosine_topk,
    rhp_knn_pairs,
)
from fuzzymatch_spark.operators.cluster import cluster_assignments
from fuzzymatch_spark.operators.dedup import (
    candidate_edges,
    compute_signatures,
    minhash_band_edges,
    ngram_jaccard_pairs,
    phash_band_edges,
    simhash_band_edges,
    verify_edges,
)
from fuzzymatch_spark.operators.suffix import suffix_run_pairs
from fuzzymatch_spark.operators.textstats import (
    fingerprint_bands,
    lang_id,
    md5_fingerprint64,
    quality_score,
    token_sorted_dedup_groups,
    token_stats,
)
from fuzzymatch_spark.operators.topk import top_matches

CFG = DedupConfig()
# the synthetic documents corpus is adversarially dense (small vocab =>
# background trigram-Jaccard ~0.5); LSH/verify queries use the dense profile
DENSE = DedupConfig.web_dense()
JACCARD_PCT = 98  # integer threshold: 100*inter >= pct*(union)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compute_signatures(_docs(spark, sf_dir), "doc_id", "text", CFG)


def _vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct token vocabulary of the corpus — the reference's natural
    candidate corpus shape (identifier/symbol-like short strings)."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed fuzzy top-k (reference `topMatches`,
    `FuzzyMatcher+Convenience.swift:65-95`) — a typo query against the
    corpus token vocabulary (the reference's symbol-matching use case)."""
    vocab = _vocab(spark, "/root/testdata/sf0.001")
    out = top_matches(vocab, "token", "straem", k=10,
                      config=MatchConfig(min_score=0.3))
    return out.select("token", F.round("score", 6).alias("score"), "kind")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- fuzzy matching (kernel UDF; golden-fixture pinned, rows-only) ----
    def flagship_topk(spark, sf):
        # Multi-query workload x k=5, mirroring the reference's 197-query
        # corpus protocol (`Documentation/COMPARISON.md:71-96`): typo,
        # prefix, substring, and abbreviation categories over the corpus
        # vocabulary, scored in ONE corpus pass (top_matches_bulk).  The
        # ~60-row result set is sensitive to every scoring constant —
        # drift in any phase boost/cap/recovery changes the rows, unlike
        # the previous 1-row single-query smoke.
        from fuzzymatch_spark.operators.topk import top_matches_bulk

        workload = [
            "straem", "qurey", "windwo", "fitler", "cusomter", "vecotr",
            "tabel", "colmn",            # typo (transposed/dropped letters)
            "sca", "str", "val",         # prefix
            "ort", "atch", "ndow",       # substring
            "grp", "mrg", "flt",         # abbreviation/subsequence
        ]
        # candidate pool: vocabulary tokens PLUS distinct adjacent-token
        # bigram phrases — the reference corpus's symbol/name field shape
        # (single symbols + multi-word names), so prefix/substring/
        # abbreviation queries have many legitimate matches to rank
        docs = _docs(spark, sf)
        toks = "split(text, ' ')"
        bigrams = docs.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 1), "
                    f"i -> concat_ws(' ', element_at({toks}, i), "
                    f"element_at({toks}, i + 1)))"
                )
            ).alias("token")
        ).distinct()
        pool = _vocab(spark, sf).unionByName(bigrams).distinct()
        out = top_matches_bulk(pool, "token", workload, k=5,
                               config=MatchConfig(min_score=0.2))
        return out.select(
            "query", "token", F.round("score", 6).alias("score"), "kind",
            F.col("rank").cast("long").alias("rank"),
        )

    q["flagship_topk_fuzzy"] = flagship_topk

    def topk_levenshtein_plan(spark, sf):
        # ORACLE-CHECKED flagship plan: same prefilter -> Arrow kernel ->
        # threshold -> top-k cascade as top_matches, restricted to plain-
        # Levenshtein scoring so DuckDB reproduces it bit-identically
        # (VERDICT r2 #6; the full reference scoring cascade stays
        # golden-fixture-pinned in tests/test_kernels_golden.py).
        from fuzzymatch_spark.operators.topk import top_matches_levenshtein

        # min_score 0.3 yields a multi-row result with a wide score tie at
        # sf0.01 — the hash check then pins the tie-break ordering too
        return top_matches_levenshtein(
            _vocab(spark, sf), "token", "straem", k=10, min_score=0.3
        )

    q["topk_levenshtein_plan"] = topk_levenshtein_plan

    def sw_topk(spark, sf):
        cfg = MatchConfig(algorithm="smithWaterman", min_score=0.1)
        out = top_matches(_docs(spark, sf), "text", "stream batch", k=20, config=cfg)
        return out.select("doc_id", F.round("score", 6).alias("score"), "kind")

    q["smith_waterman_topk"] = sw_topk

    # ---- normalization / signatures (oracle-checked) ----
    def doc_signature_stats(spark, sf):
        # wide entry: normalized caption + signature stats in one row set
        # (absorbed the former doc_normalize entry — same doc grain, one
        # driver CORRECTNESS slot instead of two)
        return _sig(spark, sf).select(
            F.col("id").alias("doc_id"),
            "caption_norm",
            F.length("caption_norm").cast("long").alias("n_chars_norm"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("char_mask"),
        )

    q["doc_signature_stats"] = doc_signature_stats

    def minhash_sig4(spark, sf):
        s = _sig(spark, sf)
        return s.select(
            F.col("id").alias("doc_id"),
            *[F.element_at("minhash_sig", i + 1).alias(f"mh{i}") for i in range(4)],
        )

    q["minhash_sig4"] = minhash_sig4

    # ---- dedup (oracle-checked where exact) ----
    def token_reorder_dedup(spark, sf):
        # The driver corpus has no token-reordered duplicates (0 == 0 rows
        # proves only that the plan compiles), so plant them INSIDE the
        # query: reversed-token copies of the first 20 docs, ids offset by
        # 10M.  The oracle replicates the planting — the canonical-key
        # groupBy is then value-checked on 20 real groups.
        docs = _docs(spark, sf).select("doc_id", "text")
        planted = docs.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
        )
        return token_sorted_dedup_groups(
            docs.unionByName(planted), "doc_id", "text"
        )

    q["token_reorder_dedup"] = token_reorder_dedup

    def exact_dup_star_edges(spark, sf):
        # ORACLE-CHECKED exact-dup star edges: the join-to-group-min shape
        # (min-id -> member, n-1 edges per group, never a pair explosion)
        # value-checked directly.  The corpus has no identical texts at
        # driver scale, so plant exact copies of the first 25 docs.
        from fuzzymatch_spark.operators.dedup import exact_dup_edges

        docs = _docs(spark, sf).select("doc_id", "text")
        planted = docs.filter(F.col("doc_id") < 25).select(
            (F.col("doc_id") + F.lit(60_000_000)).alias("doc_id"), "text"
        )
        sig = compute_signatures(docs.unionByName(planted), "doc_id",
                                 "text", CFG)
        return exact_dup_edges(sig).orderBy("a_id", "b_id")

    q["exact_dup_star_edges"] = exact_dup_star_edges

    def audio_envelope_verify(spark, sf):
        # ORACLE-CHECKED audio verify tier: the JVM zip_with/aggregate
        # rel-RMS comparison over stored envelope digests (the leg that
        # decides audio near-dups), on deterministically synthesized
        # envelopes — env[i] = ((doc_id*31 + i*7) % 97) / 97 — with planted
        # +0.001 twins (rel_rms ~2e-3) and planted UNRELATED pairs
        # (doc_id, doc_id+1) that must fail the 0.1 threshold.
        from fuzzymatch_spark.operators.multimodal import audio_verify_pairs

        docs = _docs(spark, sf).filter(F.col("doc_id") < 60).select("doc_id")
        env = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.pmod(F.col("doc_id") * 31 + i * 7, F.lit(97))
            .cast("double") / F.lit(97.0),
        )
        base = docs.select(
            F.col("doc_id").cast("long").alias("clip_id"),
            env.alias("envelope"),
        )
        twins = base.filter(F.col("clip_id") < 40).select(
            (F.col("clip_id") + F.lit(70_000_000)).alias("clip_id"),
            F.transform("envelope", lambda x: x + F.lit(0.001)).alias(
                "envelope"
            ),
        )
        clips = base.unionByName(twins)
        cand = base.filter(F.col("clip_id") < 40).select(
            F.col("clip_id").alias("a_id"),
            (F.col("clip_id") + F.lit(70_000_000)).alias("b_id"),
        ).unionByName(
            base.filter(F.col("clip_id") < 20).select(
                F.col("clip_id").alias("a_id"),
                (F.col("clip_id") + F.lit(1)).alias("b_id"),
            )
        )
        verify = audio_verify_pairs(cand, clips).select(
            F.lit("verify").alias("section"),
            F.col("a_id").cast("string").alias("k1"),
            F.col("b_id").cast("string").alias("k2"),
            F.lit(None).cast("long").alias("cnt"),
            F.col("rel_rms").alias("m1"),
            F.lit(None).cast("double").alias("m2"),
        )
        # widened r6: + silence/active-segment stats over the same base
        # envelopes (one aggregate fold per clip; the ((id*31+i*7)%97)/97
        # synth spreads values over [0,1), so threshold 0.2 yields
        # varied, non-trivial run structures per clip)
        from fuzzymatch_spark.operators.multimodal import audio_segments

        segs = audio_segments(base, threshold=0.2).select(
            F.lit("segments").alias("section"),
            F.col("clip_id").cast("string").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("n_segments").alias("cnt"),
            F.col("longest_run").cast("double").alias("m1"),
            F.col("active_frac").alias("m2"),
        )
        return verify.unionByName(segs)

    q["audio_analysis_suite"] = audio_envelope_verify

    def jaccard_prefix_pairs(spark, sf):
        # ORACLE-CHECKED PPJoin prefix-filtered exact Jaccard join: same
        # pair set as ngram_jaccard_pairs by the prefix principle (100%
        # recall + exact verify), so the same relational oracle applies —
        # the hash check pins that the prefix filter loses nothing.
        from fuzzymatch_spark.operators.dedup import ngram_jaccard_prefix_pairs

        return ngram_jaccard_prefix_pairs(
            _sig(spark, sf), threshold_pct=JACCARD_PCT
        )

    q["ngram_jaccard_prefix_pairs"] = jaccard_prefix_pairs

    def dedup_clusters(spark, sf):
        # WIDENED grain (r6, oracle-slot consolidation): per-doc cluster
        # label + survivor flag + n_chars — absorbs the former
        # dedup_canonical_corpus entry, whose survivor selection is still
        # exercised THROUGH canonical_corpus (the flag comes from its
        # output, not a re-derivation).  Clustering is the fold CC; the
        # recursive-CTE oracle is engine-independent (component-min labels).
        from fuzzymatch_spark.operators.cluster import canonical_corpus

        sig = _sig(spark, sf).persist()
        edges = ngram_jaccard_pairs(sig, threshold_pct=JACCARD_PCT)
        ids = sig.select(F.col("id").alias("doc_id"))
        clusters = cluster_assignments(edges, ids, id_col="doc_id")
        docs = _docs(spark, sf).select(
            "doc_id", F.length("text").cast("long").alias("n_chars")
        )
        canon = canonical_corpus(docs, clusters).select(
            "doc_id", F.lit(1).alias("_surv")
        )
        return (
            clusters.join(docs, "doc_id")
            .join(canon, "doc_id", "left")
            .select(
                "doc_id",
                F.col("cluster_id").cast("long").alias("cluster_id"),
                F.coalesce(F.col("_surv"), F.lit(0)).cast("long")
                .alias("is_survivor"),
                "n_chars",
            )
        )

    q["dedup_clusters"] = dedup_clusters

    def dedup_cluster_stats(spark, sf):
        # the dedup REPORT: duplicate-cluster size distribution over the
        # same clustering as dedup_clusters — what a pipeline owner reads
        # to judge dedup impact (O(distinct sizes) output at any scale)
        from fuzzymatch_spark.operators.cluster import cluster_size_histogram

        sig = _sig(spark, sf).persist()
        edges = ngram_jaccard_pairs(sig, threshold_pct=JACCARD_PCT)
        ids = sig.select(F.col("id").alias("doc_id"))
        clusters = cluster_assignments(edges, ids, id_col="doc_id")
        return cluster_size_histogram(clusters)

    q["dedup_cluster_stats"] = dedup_cluster_stats

    def suffix_runs(spark, sf):
        return suffix_run_pairs(_docs(spark, sf), "doc_id", "text", run_len=32)

    q["suffix_run_pairs"] = suffix_runs

    def winnow_fps(spark, sf):
        from fuzzymatch_spark.operators.suffix import winnow_fingerprints

        return winnow_fingerprints(_docs(spark, sf), "doc_id", "text",
                                   k=6, w=4)

    q["winnow_fingerprints"] = winnow_fps

    def minhash_lsh(spark, sf):
        # ORACLE-CHECKED banded-LSH self-join: the band decomposition is a
        # pure function of the (already bit-identical, see minhash_sig4)
        # signatures, so DuckDB reproduces the pair set by joining on the
        # concatenated 16-value band keys.  The Spark side joins on
        # xxhash64(band, slice) — equal keys iff equal slices (64-bit
        # collisions are ~2^-65 here); bucket caps cannot engage at driver
        # scale (500 docs << shard_target * max_shards).
        return minhash_band_edges(_sig(spark, sf), DENSE).orderBy("a_id", "b_id")

    q["minhash_lsh_pairs"] = minhash_lsh

    def simhash_pairs(spark, sf):  # seeded blake2b tokens: rows-only
        return simhash_band_edges(_sig(spark, sf), DENSE).orderBy("a_id", "b_id")

    q["simhash_pairs"] = simhash_pairs

    def simhash_token_pairs(spark, sf):
        # ORACLE-CHECKED SimHash near-dup pairs end-to-end: relational
        # SimHash signatures -> Manku Hamming band join (recall-complete,
        # so the brute-force bit_count oracle is exact).  Planted twins
        # replace the first token ('zzz' + rest): one token of ~60 flips
        # few majority votes, so most twins land within Hamming 5 (28/30
        # here; the 2 heavier flips are excluded identically by both
        # engines — background pairs on this dense corpus start at 6).
        from fuzzymatch_spark.operators.dedup import _hamming_band_edges
        from fuzzymatch_spark.operators.textstats import simhash64_tokens

        docs = _docs(spark, sf).select("doc_id", "text")
        planted = docs.filter(
            (F.col("doc_id") < 30) & (F.instr("text", " ") > 0)
        ).select(
            (F.col("doc_id") + F.lit(80_000_000)).alias("doc_id"),
            F.expr("concat('zzz', substring(text, instr(text, ' ')))")
            .alias("text"),
        )
        sig = simhash64_tokens(docs.unionByName(planted), "doc_id", "text")
        return _hamming_band_edges(
            sig, "doc_id", "simhash", n_bands=8, max_hamming=5,
            source="simhash",
        ).orderBy("a_id", "b_id")

    q["simhash_token_pairs"] = simhash_token_pairs

    def verified_jaccard_edges(spark, sf):
        # ORACLE-CHECKED deterministic tier of verify_edges: exact inverted-
        # index candidates (ngram_jaccard_pairs, pct 60) -> two-tier verify
        # -> keep only tier-1-decided edges (kind != 'substring' excludes the
        # DL-kernel rows, whose arithmetic is pinned by golden fixtures
        # instead).  Exact/jaccard kinds are integer-derived and reproduce
        # bit-identically in DuckDB.
        sig = _sig(spark, sf).persist()
        cand = ngram_jaccard_pairs(sig, threshold_pct=60).select(
            "a_id", "b_id", F.lit("jaccard").alias("source")
        )
        out = verify_edges(cand, sig, DENSE)
        return out.filter(F.col("kind") != "substring").select(
            "a_id", "b_id", "kind", F.round("jaccard", 6).alias("jaccard")
        )

    q["verified_jaccard_edges"] = verified_jaccard_edges

    def verified_dedup_edges(spark, sf):  # DL kernel verify: rows-only
        # signature table feeds 3 candidate sources + both verify sides:
        # persist so the fused UDF pass runs once
        sig = _sig(spark, sf).persist()
        cand = candidate_edges(sig, DENSE)
        return verify_edges(cand, sig, DENSE).select(
            "a_id", "b_id", "source", F.round("score", 4).alias("score"), "kind"
        ).orderBy("a_id", "b_id")

    q["verified_dedup_edges"] = verified_dedup_edges

    def fuzzy_token_join_q(spark, sf):
        from fuzzymatch_spark.operators.fuzzyjoin import fuzzy_token_join

        return fuzzy_token_join(_docs(spark, sf).select(
            F.explode(F.split("text", " ")).alias("token")
        ), "token", max_ed=2)

    q["fuzzy_token_join"] = fuzzy_token_join_q

    # ---- fingerprints / band decomposition (oracle-checked) ----
    def fp_bands(spark, sf):
        # wide entry: each (doc, band, key) row also carries the full
        # 60-bit md5 fingerprint (absorbed the former doc_fingerprint
        # entry — the fp column is value-checked on every band row)
        docs = _docs(spark, sf)
        fps = docs.select("doc_id", md5_fingerprint64("text").alias("fp"))
        return fingerprint_bands(docs, "doc_id", "text").join(fps, "doc_id")

    q["fingerprint_bands"] = fp_bands

    # ---- text analysis (oracle-checked) ----
    def text_analysis_wide(spark, sf):
        # ONE wide doc-grain entry for ALL FIVE read-only text-analysis
        # operators (token_stats + quality_score + lang_id +
        # bpe_token_stats + mask_pii) — the r6 merge of the former
        # text_quality_wide and text_tokens_wide entries (themselves r5
        # merges of five singles): same coverage, one driver CORRECTNESS
        # slot instead of two.  BOTH planted sets ride along: +30M rows
        # carry punctuation/stopwords/uppercase (every ratio column and
        # the language markers bind on non-trivial values) and +20M rows
        # carry contractions, digit runs, and all three PII masking
        # branches (email / URL / long number).
        from fuzzymatch_spark.operators.textstats import (
            bpe_token_stats,
            mask_pii,
        )

        docs = _docs(spark, sf).select("doc_id", "text")
        planted_pii = docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
            F.concat(
                F.lit("It's 42 degrees... mail bob.smith+x@example.co.uk "
                      "or https://ex.org/a?id=99 card 4111222233334444 "),
                F.col("text"),
            ).alias("text"),
        )
        planted_q = docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + F.lit(30_000_000)).alias("doc_id"),
            F.concat(F.lit("The quick, brown fox!!! It is "), F.col("text"))
            .alias("text"),
        )
        allrows = docs.unionByName(planted_pii).unionByName(planted_q)
        ts = token_stats(allrows, "doc_id", "text")
        qs = quality_score(allrows, "doc_id", "text")
        li = lang_id(allrows, "doc_id", "text")
        bpe = bpe_token_stats(allrows, "doc_id", "text")
        masked = mask_pii(allrows, "doc_id", "text")
        # sixth section (r6): URL canonicalization over a deterministic
        # synthesized url per doc — exercises every normalization branch
        # (host case, default :443, tracking params, param sort, fragment)
        from fuzzymatch_spark.operators.textstats import normalize_urls

        url_synth = F.concat(
            F.lit("HTTPS://Site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(":443"))
            .otherwise(F.lit("")),
            F.lit("/Docs/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("?utm_source=feed&b=2&a=1"),
            ).otherwise(F.lit("?a=1")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("#frag"))
            .otherwise(F.lit("")),
        )
        urls = normalize_urls(
            allrows.withColumn("url", url_synth), "doc_id", "url"
        )
        return (
            ts.join(qs, "doc_id")
            .join(li, "doc_id")
            .join(bpe, "doc_id")
            .join(masked, "doc_id")
            .join(urls, "doc_id")
        )

    q["text_analysis_wide"] = text_analysis_wide

    # ---- corpus curation (oracle-checked; operators/corpus.py) ----
    def repetition_q(spark, sf):
        from fuzzymatch_spark.operators.corpus import repetition_stats

        # plant a pathological repeater so the Gopher gate's fail branch is
        # value-checked (the corpus's mild repetition mostly passes)
        docs = _docs(spark, sf).select("doc_id", "text")
        planted = docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
            F.concat(F.lit("loop loop loop loop loop loop "), F.col("text"))
            .alias("text"),
        )
        return repetition_stats(docs.unionByName(planted), "doc_id", "text")

    q["repetition_stats"] = repetition_q

    def decontaminate_q(spark, sf):
        # widened r6: exact (GPT-3 appendix-C n-gram) AND fuzzy
        # (MinHash-LSH + trigram-Jaccard verify) decontamination tiers in
        # ONE doc-grain slot.  The fuzzy tier reuses the dedup machinery
        # asymmetrically: CFG signatures (bit-identical cross-engine, see
        # minhash_sig4), DENSE banding (same band keys the minhash_lsh
        # oracle reproduces), JACCARD_PCT exact verification — so DuckDB
        # rebuilds the verified pair set relationally.
        from fuzzymatch_spark.operators.corpus import (
            decontaminate_fuzzy,
            decontaminate_ngrams,
        )

        docs = _docs(spark, sf).select("doc_id", "source", "text")
        bench = docs.filter(F.col("source") == "src0")
        exact = decontaminate_ngrams(docs, bench, "doc_id", "text", n=3)
        fuzzy = decontaminate_fuzzy(
            docs, bench, "doc_id", "text", cfg=DENSE,
            jaccard_pct=JACCARD_PCT,
        )

        # embedding tier (r6 widening, same slot): each src0 doc's
        # vector, perturbed +0.02/element (cos ~0.987 vs its own corpus
        # vector only — the cosine_dup_pairs planting convention), forms
        # the benchmark; decontaminate_embeddings' GEMM screen must flag
        # exactly the src0 rows.  Oracle: brute-force per-element cosine,
        # round(…, 4) both engines.
        from fuzzymatch_spark.operators.ann import decontaminate_embeddings

        emb = _emb(spark, sf).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        bench_vecs = emb.join(
            bench.select(F.col("doc_id").alias("vec_id")), "vec_id"
        ).select(
            F.col("vec_id").alias("bench_id"),
            F.transform(
                "embedding", lambda x: x + F.lit(0.02)
            ).alias("embedding"),
        )
        embt = decontaminate_embeddings(
            emb, bench_vecs, min_cosine=0.95
        ).select(
            F.col("vec_id").alias("doc_id"),
            F.col("n_bench_hits").alias("emb_hits"),
            F.col("max_cos").alias("emb_max_cos"),
            F.col("contaminated").alias("emb_contaminated"),
        )
        return exact.join(fuzzy, "doc_id").join(embt, "doc_id")

    q["decontamination_suite"] = decontaminate_q

    def splits_sampling_q(spark, sf):
        # wide doc-grain entry: deterministic hash train/val/test split +
        # exact-k stratified sample rank (0 = not sampled) in one slot
        # (the former stratified_sample entry, widened r5)
        from fuzzymatch_spark.operators.corpus import (
            split_by_hash,
            stratified_sample,
        )

        docs = _docs(spark, sf)
        splits = split_by_hash(docs, "doc_id")
        samp = stratified_sample(
            docs, ["lang", "source"], "doc_id", k=3
        ).select("doc_id", "sample_rank")
        return (
            docs.select("doc_id", "lang", "source")
            .join(splits, "doc_id")
            .join(samp, "doc_id", "left")
            .select(
                "doc_id", "lang", "source", "split",
                F.coalesce("sample_rank", F.lit(0)).cast("int")
                .alias("sample_rank"),
            )
        )

    q["corpus_splits_sampling"] = splits_sampling_q

    def dsir_q(spark, sf):
        # DSIR importance-resampled selection (Xie et al. 2302.03169):
        # target domain = lang 'en', hashed unigram+bigram features,
        # Gumbel-top-k on the importance log-weights — deterministic by
        # construction (md5-fraction Gumbel), so the full selected set
        # hash-checks against DuckDB
        from fuzzymatch_spark.operators.corpus import dsir_select

        return dsir_select(
            _docs(spark, sf), "doc_id", "text",
            target=F.col("lang") == "en",
            dim=256, alpha=1.0, k=100, seed=0,
        )

    q["dsir_selection"] = dsir_q

    def query_ranking_q(spark, sf):
        # widened r6 (the relational_agg_suite section pattern): TF-IDF
        # and Okapi BM25 rankings of the same query in ONE driver slot —
        # two top-20s behind a section discriminator, both decimal-summed
        # and 6-dp rounded
        from fuzzymatch_spark.operators.corpus import bm25_topk, tfidf_topk

        docs = _docs(spark, sf)
        tf = tfidf_topk(docs, "dup spark window", "doc_id", "text", k=20)
        bm = bm25_topk(docs, "dup spark window", "doc_id", "text", k=20)
        return tf.select(
            F.lit("tfidf").alias("section"), "doc_id",
            F.col("tfidf").alias("score"),
        ).unionByName(bm.select(
            F.lit("bm25").alias("section"), "doc_id",
            F.col("bm25").alias("score"),
        ))

    q["query_ranking_suite"] = query_ranking_q

    def chunk_q(spark, sf):
        # chunking + concat-and-cut sequence packing in one entry: every
        # chunk also carries the training bin where it starts when its
        # source shard is packed at a 128-token budget (r5)
        from fuzzymatch_spark.operators.corpus import (
            chunk_documents,
            pack_chunks,
        )

        docs = _docs(spark, sf)
        chunks = chunk_documents(
            docs, "doc_id", "text", chunk_tokens=32, overlap=8
        ).join(docs.select("doc_id", "source"), "doc_id")
        return pack_chunks(chunks, ["source"], budget=128)

    q["chunk_documents"] = chunk_q

    def line_dedup_q(spark, sf):
        # C4-style corpus-wide line dedup (any line occurring >1 time in
        # the corpus is dropped everywhere but its first occurrence) over
        # deterministic 8-token pseudo-lines — the synthetic docs carry no
        # newlines, and the same chunking is reproduced relationally in
        # the oracle (unnest WITH ORDINALITY + pos//8 GROUP BY), so the
        # agreement cross-checks the operator, not the preprocessing.
        from fuzzymatch_spark.operators.corpus import line_dedup_stats

        docs = _docs(spark, sf)
        toks = F.split(F.col("text"), " ")
        n = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
        lines = F.transform(
            F.sequence(F.lit(0), n - F.lit(1)),
            lambda i: F.array_join(
                F.slice(toks, i * F.lit(8) + F.lit(1), F.lit(8)), " "
            ),
        )
        pseudo = docs.select(
            "doc_id", F.array_join(lines, "\n").alias("text")
        )
        ld = line_dedup_stats(pseudo, "doc_id", "text")
        # widened r6: + Lee et al. substring-level exact-dup coverage
        # (L=32-char windows, content-defined 1-in-4 sampling — windows
        # kept iff wkey % 4 == 0, so detection is alignment-free) over
        # the RAW text, same doc grain.  The corpus's exact-dup docs
        # guarantee non-trivial coverage values.
        from fuzzymatch_spark.operators.suffix import (
            repeated_substring_stats,
        )

        rs = repeated_substring_stats(
            docs, "doc_id", "text", window_len=32, sample_mod=4
        ).select(
            "doc_id", "n_windows", "n_dup_windows",
            "dup_span_chars", "dup_span_frac",
        )
        return ld.join(rs, "doc_id")

    q["line_dedup_stats"] = line_dedup_q

    def pair_eval_q(spark, sf):
        # Dedup-quality eval against a labeled pair set — the north rule's
        # "dup-pair recall on a labeled eval shard" metric as an operator.
        # Truth = planted copies (50 exact at +60M, 100 suffix-perturbed at
        # +61M); predictions = the exact n-gram Jaccard join at the
        # pipeline threshold.  Exact copies are always recovered; the
        # 7-new-trigram perturbation sits below the 98% threshold on this
        # corpus's vocabulary-bounded gram sets, so recall lands strictly
        # between 0 and 1 and precision reflects the corpus's natural
        # near-dup pairs — every branch of the metric is value-checked.
        from fuzzymatch_spark.operators.corpus import pair_eval

        docs = _docs(spark, sf).select("doc_id", "text")
        exact = docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + F.lit(60_000_000)).alias("doc_id"), "text"
        )
        pert = docs.filter(
            (F.col("doc_id") >= 50) & (F.col("doc_id") < 150)
        ).select(
            (F.col("doc_id") + F.lit(61_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qzxjvwblt")).alias("text"),
        )
        allrows = docs.unionByName(exact).unionByName(pert)
        sig = compute_signatures(allrows, "doc_id", "text", CFG)
        pred = ngram_jaccard_pairs(sig, threshold_pct=JACCARD_PCT).select(
            "a_id", "b_id"
        )
        truth = docs.filter(F.col("doc_id") < 150).select(
            F.col("doc_id").alias("a_id"),
            F.when(F.col("doc_id") < 50, F.col("doc_id") + 60_000_000)
            .otherwise(F.col("doc_id") + 61_000_000)
            .alias("b_id"),
        )
        return pair_eval(pred, truth)

    q["dedup_pair_eval"] = pair_eval_q

    # (the former kmeans_clusters entry was folded out: the same operator
    # is oracle-checked end-to-end by text_kmeans_clusters, and BOTH its
    # iterations on the embeddings table by cluster_agreement_ari's a0/a1)
    def vocab_q(spark, sf):
        from fuzzymatch_spark.operators.corpus import vocab_top_tokens

        return vocab_top_tokens(_docs(spark, sf), "text", ["source"], k=5)

    q["vocab_top_tokens"] = vocab_q

    def unigram_q(spark, sf):
        # widened r6: unigram AND interpolated-bigram LM scores in one
        # doc-grain slot (CCNet-style perplexity filtering; the bigram
        # model is the real quality-filter shape, the unigram its
        # backoff).  Docs with < 2 tokens have no bigram positions:
        # typed-NULL mean + 0 count, identical in the oracle.
        from fuzzymatch_spark.operators.corpus import (
            bigram_logprob,
            unigram_logprob,
        )

        docs = _docs(spark, sf)
        uni = unigram_logprob(docs, "doc_id", "text")
        bi = bigram_logprob(docs, "doc_id", "text", lam=0.8)
        return uni.join(bi, "doc_id", "left").select(
            "doc_id", "n_tokens", "mean_neg_logprob",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            "mean_neg_logprob_bi",
        )

    q["lm_logprob_stats"] = unigram_q

    def unimax_q(spark, sf):
        # UniMax waterfill allocation over the corpus's languages:
        # epochs=2 cap, budget = half the total tokens (floor division —
        # exact integer on both engines); the water level is the only
        # float and both engines compute it with the identical
        # int->double expression.
        from fuzzymatch_spark.operators.corpus import unimax_alloc

        return unimax_alloc(
            _docs(spark, sf), "lang", "text",
            budget_tokens=None, max_epochs=2,
        )

    q["unimax_lang_alloc"] = unimax_q

    def budget_fill_q(spark, sf):
        # greedy per-language token-budget selection, scored by TTR
        # (type-token ratio — the same expression quality_score uses,
        # reproduced relationally in the oracle); budget 1000 tokens per
        # language binds at every sf
        from fuzzymatch_spark.operators.corpus import budget_fill

        toks = F.split(F.col("text"), " ")
        docs = _docs(spark, sf).select(
            "doc_id", "lang", "text",
            F.round(
                F.size(F.array_distinct(toks)) / F.size(toks), 6
            ).alias("ttr"),
        )
        return budget_fill(
            docs, "doc_id", "text", "ttr",
            budget_tokens=1000, part_cols=["lang"],
        )

    q["token_budget_fill"] = budget_fill_q

    def length_quantiles_q(spark, sf):
        from fuzzymatch_spark.operators.corpus import length_quantiles

        return length_quantiles(_docs(spark, sf), "text", ["lang"])

    q["doc_length_quantiles"] = length_quantiles_q

    def asof_q(spark, sf):
        # as-of join: every event picks up the newest "rate" state row
        # (a deterministic subset of the stream) at or before its own
        # timestamp, per user.  Oracle = DuckDB's native ASOF LEFT JOIN.
        from pyspark.sql import Window

        from fuzzymatch_spark.operators.temporal import asof_join

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_id", "user_id", "ts", F.round("value", 4).alias("value")
        )
        dim = (
            ev.filter(F.col("event_id") % 97 == 0)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id", "ts").orderBy("event_id")
                ),
            )
            .filter(F.col("rn") == 1)
            .select("user_id", "ts", F.col("value").alias("rate"))
        )
        out = asof_join(
            ev.select("event_id", "user_id", "ts"),
            dim,
            ["user_id"],
            "ts",
            ["rate"],
        )
        return out.select("event_id", "user_id", "ts",
                          F.col("asof_rate").alias("rate"))

    q["events_asof_rate"] = asof_q

    def range_q(spark, sf):
        # interval-containment join: events against 10-minute windows
        # opened at a deterministic subset of the stream, per user.
        # Overlapping windows make it genuinely multi-match (unlike the
        # as-of entry).  Oracle = DuckDB inequality join.
        from fuzzymatch_spark.operators.temporal import range_join

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_id", "user_id", "ts"
        )
        dim = ev.filter(F.col("event_id") % 97 == 0).select(
            "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
            F.col("event_id").alias("interval_id"),
        )
        out = range_join(
            ev, dim, ["user_id"], "ts", "start_ts", "end_ts",
            bucket_secs=300,
        )
        return out.select("event_id", "user_id", "ts", "interval_id")

    q["events_range_join"] = range_q

    def curation_q(spark, sf):
        # End-to-end curation composite, the curation-side counterpart of
        # multimodal_dedup_clusters: repetition gate -> benchmark
        # decontamination (the benchmark source's own docs drop out, as a
        # real decontamination pass would drop the eval set) -> exact-dup
        # removal keyed on portable md5(text) -> per-stratum cap.  Every
        # stage is one of the oracle-checked operators; the composite
        # value-checks their composition.
        from fuzzymatch_spark.operators.corpus import stratified_sample

        base = _docs(spark, sf).select("doc_id", "lang", "source", "text")
        # plant both failure branches so every stage of the composite
        # does real work: exact copies (+70M) the dedup stage must fold
        # onto their originals, and heavy repeaters (+71M) the Gopher
        # gate must drop (30 leading 'loop' tokens -> top-unigram > 0.30)
        copies = base.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + F.lit(70_000_000)).alias("doc_id"),
            "lang", "source", "text",
        )
        loops = base.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + F.lit(71_000_000)).alias("doc_id"),
            "lang", "source",
            F.concat(F.lit("loop " * 30), F.col("text")).alias("text"),
        )
        docs = base.unionByName(copies).unionByName(loops)
        # the same composed pass the spark-submit job ships — the entry
        # exists to hash-check THAT code path, not a re-implementation
        from jobs.curate_job import curate

        survivors = curate(
            docs, "doc_id", "text",
            docs.filter(F.col("source") == "src0"), ngram_n=4,
        )
        return stratified_sample(survivors, ["lang", "source"], "doc_id", k=3)

    q["corpus_curation_pipeline"] = curation_q

    def hash_vec_q(spark, sf):
        # sparse entries of the hashing-trick vectors (exploded scalar
        # rows — exact integer counts, no float-array comparison needed)
        from fuzzymatch_spark.operators.corpus import hash_vectorize

        docs = _docs(spark, sf).select("doc_id", "text")
        # plant a non-ASCII row: pins that ascii()/substr/length are
        # codepoint-identical across engines, not just on the ASCII corpus
        planted = docs.filter(F.col("doc_id") < 5).select(
            (F.col("doc_id") + F.lit(80_000_000)).alias("doc_id"),
            F.concat(F.lit("café naïve 東京 žluťoučký "), F.col("text"))
            .alias("text"),
        )
        vecs = hash_vectorize(
            docs.unionByName(planted), "doc_id", "text", dim=64
        )
        return vecs.select(
            F.col("vec_id").alias("doc_id"),
            F.posexplode("embedding").alias("dim", "cnt"),
        ).filter(F.col("cnt") > 0).select(
            "doc_id",
            F.col("dim").cast("int").alias("dim"),
            F.col("cnt").cast("long").alias("cnt"),
        )

    q["hash_vector_entries"] = hash_vec_q

    def text_kmeans_q(spark, sf):
        # end-to-end text -> hashing-trick vector -> Lloyd k-means: the
        # semantic-dedup surface with no external embedding model
        from fuzzymatch_spark.operators.ann import kmeans_lloyd
        from fuzzymatch_spark.operators.corpus import hash_vectorize

        vecs = hash_vectorize(_docs(spark, sf), "doc_id", "text", dim=64)
        return kmeans_lloyd(vecs, "embedding", k=8, iters=2)

    q["text_kmeans_clusters"] = text_kmeans_q

    def cluster_agree_q(spark, sf):
        # pair-counting agreement between the init-codebook assignment
        # (Lloyd iteration 0) and the post-update assignment (iteration 1)
        # — the "how close are two clusterings" check the north rule's
        # assignment-matching criterion needs, on two fully deterministic
        # clusterings
        from fuzzymatch_spark.operators.ann import kmeans_lloyd
        from fuzzymatch_spark.operators.cluster import cluster_agreement

        emb = _emb(spark, sf)
        a = kmeans_lloyd(emb, "embedding", k=8, iters=1).select(
            "vec_id", "cluster"
        )
        b = kmeans_lloyd(emb, "embedding", k=8, iters=2).select(
            "vec_id", "cluster"
        )
        return cluster_agreement(a, b, id_col="vec_id")

    q["cluster_agreement_ari"] = cluster_agree_q

    def windowed_events_q(spark, sf):
        # the streaming windowed aggregation run in batch mode (watermark
        # is a no-op in batch) — value-checks the window expressions the
        # streaming path emits
        from fuzzymatch_spark.streaming.windowed import windowed_event_stats

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return windowed_event_stats(ev, exact_sums=True)

    q["events_windowed_stats"] = windowed_events_q

    def session_windows_q(spark, sf):
        # session-window aggregation in batch form; the oracle uses the
        # independent gaps-and-islands formulation
        from fuzzymatch_spark.streaming.windowed import session_window_stats

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return session_window_stats(ev, gap="6 hours", exact_sums=True)

    q["events_session_windows"] = session_windows_q

    # ---- similarity search ----
    def ann_topk(spark, sf):
        # ONE ANN entry (r6 slot consolidation, VERDICT r5 item 5): the
        # brute-force cosine top-10 baseline AND the IVF build/probe
        # top-10 over the same query vector, unioned behind a section
        # discriminator — identical (vec_id, cos) grain and 5-dp
        # rounding, so the former two slots cost one.
        # Widened again late-r6 with the PQ/ADC compressed-domain top-10
        # (deterministic first-16 sub-vector codebooks, m=8 subspaces,
        # 6-dp LUTs, zero-norm guard) — the oracle re-derives codebooks,
        # code assignment, both LUTs and the ADC fold relationally, so
        # recall AND the exact compressed-domain scores are value-checked.
        from fuzzymatch_spark.operators.ann import (
            _pq_codebooks,
            ivf_topk,
            pq_adc_topk,
            pq_encode,
        )

        emb = _emb(spark, sf)
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
        brute = cosine_topk(emb, "embedding", qv, k=10).select(
            F.lit("brute").alias("section"), "vec_id", "cos"
        )
        ivf = ivf_topk(
            emb, "embedding", qv, k=10, n_centroids=8, n_probe=2
        ).select(F.lit("ivf").alias("section"), "vec_id", "cos")
        cb = _pq_codebooks(emb, "embedding", "vec_id", m=8, n_codes=16)
        pq = pq_adc_topk(
            pq_encode(emb, "embedding", cb), cb, qv, k=10
        ).select(F.lit("pq").alias("section"), "vec_id", "cos")
        return brute.unionByName(ivf).unionByName(pq)

    q["ann_topk_suite"] = ann_topk

    def ann_lsh(spark, sf):  # seeded hyperplanes: rows-only
        # The driver's embeddings are independent random vectors (background
        # cosine ~ N(0, 1/64)), so no pair clears any useful threshold and
        # the LSH join would be trivially empty.  Plant near-neighbors
        # deterministically: perturbed copies of the first 50 vectors
        # (JVM-side transform, cos ~ 0.99, Hamming ~ 2 << max_hamming) so
        # the row count exercises the band join + cosine verify end-to-end.
        emb = _emb(spark, sf).select("vec_id", "embedding")
        planted = emb.filter(F.col("vec_id") < 50).select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x.cast("double")
                + 0.01 * (F.pmod(i, F.lit(7)).cast("double") - 3.0),
            ).alias("embedding"),
        )
        both = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).unionByName(planted)
        return rhp_knn_pairs(both, "embedding", min_cosine=0.7, dim=64).orderBy(
            "a_id", "b_id"
        )

    q["ann_rhp_knn_pairs"] = ann_lsh

    def cos_dups(spark, sf):
        # Plant near-duplicate vectors (the driver embeddings are independent
        # random unit vectors — no real pair clears 0.9): +0.02 per element
        # on the first 50 vectors gives cos ~0.987 vs the original, well
        # above threshold and reproduced verbatim in the oracle SQL.
        emb = _emb(spark, sf).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        planted = emb.filter(F.col("vec_id") < 50).select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
        )
        return cosine_dup_pairs(
            emb.unionByName(planted), "embedding", min_cosine=0.9
        )

    q["cosine_dup_pairs"] = cos_dups

    def ivf_semantic_dups(spark, sf):
        # ORACLE-CHECKED SemDeDup-style semantic near-dup pairs: IVF cell
        # assignment (deterministic first-8 codebook, 6-dp rounding) ->
        # exact cosine pairs WITHIN cells only.  43 of 50 planted +0.02
        # twins share their original's cell and surface as pairs (7 split
        # across a cell boundary — the standard SemDeDup recall trade,
        # reproduced identically by the oracle); the cell partition bounds
        # the quadratic work the |D|^2 path (cosine_dup_pairs) cannot.
        from fuzzymatch_spark.operators.ann import ivf_dup_pairs

        emb = _emb(spark, sf).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        planted = emb.filter(F.col("vec_id") < 50).select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
        )
        return ivf_dup_pairs(
            emb.unionByName(planted), "embedding", min_cosine=0.9,
            n_centroids=8,
        ).orderBy("a_id", "b_id")

    q["ivf_semantic_dup_pairs"] = ivf_semantic_dups

    def video_frame_phash(spark, sf):  # stub codec: rows-only
        from fuzzymatch_spark.operators.multimodal import encode_video, frame_sample
        from fuzzymatch_spark.sources.images import synth_pixels

        import pandas as pd

        def gen(batches):
            for pdf in batches:
                out = {"video_id": [], "bytes": []}
                for rid in pdf["doc_id"].astype(str):
                    frames = [synth_pixels(f"{rid}f{i}", 24, 24) for i in range(8)]
                    out["video_id"].append(f"vid_{rid}")
                    out["bytes"].append(encode_video(frames))
                yield pd.DataFrame(out)

        docs = _docs(spark, sf).limit(100).repartition(8)
        videos = docs.select("doc_id").mapInPandas(
            gen, schema="video_id string, bytes binary"
        )
        return frame_sample(videos, every_k=4).orderBy("video_id", "frame_idx")

    q["video_frame_phash"] = video_frame_phash

    def video_dup_pairs_q(spark, sf):  # stub codec: rows-only
        # video near-dup end-to-end: synth containers (every even doc's
        # video gets a noisy twin) -> frame sample + per-frame pHash ->
        # Hamming band join on frames -> frame-set containment per pair
        from fuzzymatch_spark.operators.multimodal import (
            encode_video,
            frame_sample,
            video_dup_pairs,
        )
        from fuzzymatch_spark.sources.images import synth_pixels

        import numpy as np
        import pandas as pd

        def gen(batches):
            for pdf in batches:
                out = {"video_id": [], "bytes": []}
                for rid in pdf["doc_id"].astype(str):
                    frames = [synth_pixels(f"{rid}f{i}", 24, 24) for i in range(8)]
                    out["video_id"].append(f"vid_{rid}")
                    out["bytes"].append(encode_video(frames))
                    if int(rid) % 2 == 0:  # planted noisy twin
                        rng = np.random.RandomState(int(rid) + 77)
                        noisy = [
                            np.clip(
                                f.astype(np.int16)
                                + rng.randint(-3, 4, f.shape),
                                0, 255,
                            ).astype(np.uint8)
                            for f in frames
                        ]
                        out["video_id"].append(f"vid_{rid}_dup")
                        out["bytes"].append(encode_video(noisy))
                yield pd.DataFrame(out)

        docs = _docs(spark, sf).limit(100).repartition(8)
        videos = docs.select("doc_id").mapInPandas(
            gen, schema="video_id string, bytes binary"
        )
        frames = frame_sample(videos, every_k=2)
        return video_dup_pairs(frames, min_frac=0.5).orderBy("a_id", "b_id")

    q["video_dup_pairs"] = video_dup_pairs_q

    def video_containment_relational(spark, sf):
        # ORACLE-CHECKED video near-dup containment from a STORED frame
        # table (video_id, frame_idx, frame_phash) — the same operator the
        # stub-codec entry exercises, but with deterministic md5-derived
        # frame hashes so the Manku Hamming join + per-pair frame-set
        # containment are pure integer SQL.  Planted twins share 6 of 8
        # frames (2-bit flips; frames 6-7 rerolled) -> matched_frac 0.75.
        from fuzzymatch_spark.operators.multimodal import video_dup_pairs

        def fp(col):
            return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

        docs = _docs(spark, sf).filter(F.col("doc_id") < 200).select(
            "doc_id", "text"
        )
        fidx = F.explode(F.sequence(F.lit(0), F.lit(7))).alias("frame_idx")
        orig = docs.select(
            F.concat(F.lit("v"), F.col("doc_id").cast("string")).alias(
                "video_id"
            ),
            "text", fidx,
        ).select(
            "video_id", "frame_idx",
            fp(F.concat("text", F.lit("#"),
                        F.col("frame_idx").cast("string"))).alias(
                "frame_phash"
            ),
        )
        twin = docs.filter(F.col("doc_id") % 2 == 0).select(
            F.concat(F.lit("v"), F.col("doc_id").cast("string"),
                     F.lit("d")).alias("video_id"),
            "text", fidx,
        ).select(
            "video_id", "frame_idx",
            F.when(
                F.col("frame_idx") < 6,
                fp(F.concat("text", F.lit("#"),
                            F.col("frame_idx").cast("string"))
                   ).bitwiseXOR(F.lit(5)),
            ).otherwise(
                fp(F.concat("text", F.lit("#x"),
                            F.col("frame_idx").cast("string")))
            ).alias("frame_phash"),
        )
        frames = orig.unionByName(twin)
        pairs = video_dup_pairs(frames, min_frac=0.5)
        cont = pairs.select(
            F.lit("containment").alias("section"),
            F.col("a_id").alias("k1"),
            F.col("b_id").alias("k2"),
            F.lit(None).cast("long").alias("cnt"),
            F.col("matched_frac").alias("m1"),
            F.lit(None).cast("double").alias("m2"),
        )
        # widened r6: + shot segmentation over a SHOT-STRUCTURED frame
        # table (3 md5-derived base hashes per video, <=2-bit intra-shot
        # jitter via xor(idx % 3); cuts at frames 3 and 5) — every video
        # must segment into exactly (0-2)(3-4)(5-7)
        from fuzzymatch_spark.operators.multimodal import shot_boundaries

        seg = (
            F.when(F.col("frame_idx") < 3, 0)
            .when(F.col("frame_idx") < 5, 1)
            .otherwise(2)
        )
        sframes = docs.select(
            F.concat(F.lit("v"), F.col("doc_id").cast("string")).alias(
                "video_id"
            ),
            "text", fidx,
        ).select(
            "video_id", "frame_idx",
            fp(F.concat("text", F.lit("#s"), seg.cast("string")))
            .bitwiseXOR(F.pmod(F.col("frame_idx"), F.lit(3)))
            .alias("frame_phash"),
        )
        shots = shot_boundaries(sframes).select(
            F.lit("shots").alias("section"),
            F.col("video_id").alias("k1"),
            F.col("shot_id").cast("string").alias("k2"),
            F.col("n_frames").alias("cnt"),
            F.col("start_idx").cast("double").alias("m1"),
            F.col("end_idx").cast("double").alias("m2"),
        )
        return cont.unionByName(shots)

    q["video_analysis_suite"] = video_containment_relational

    def image_dedup_suite(spark, sf):
        # ONE image-dedup entry (late-r6 slot consolidation): the former
        # phash_hamming_pairs and phash_tier2_pairs plus the NEW tile-
        # containment section, unioned behind a section discriminator on
        # a shared (a_id, b_id, m1) pair grain — two slots became one
        # with strictly more coverage.
        #
        # 'hamming': ORACLE-CHECKED Hamming pair join from a STORED phash
        # column (the input_hint's phash:int64 shape).  The Manku
        # C(m, m-k) band join is recall-complete by pigeonhole and the
        # bit_count verify is exact, so its output EQUALS the brute-force
        # Hamming<=k pair set — the oracle is that brute-force join,
        # value-checking recall AND precision of the decomposition.
        # Reference analog: the popcount-bound prefilter
        # (`Sources/FuzzyMatch/Prefilters.swift:496-503`).  Stored column:
        # the 60-bit md5 fingerprint; planted near-twins flip 2 bits.
        #
        # 'tier2': the independent-digest verify (r6 density control) —
        # pairs within Hamming 6 on the primary AND 8 on a second stored
        # digest; planted per base doc: a true twin (close in both) and a
        # tier-1-only collision the second digest must kill.
        #
        # 'tiles': positional tile containment (partial-edit resistance)
        # from a STORED 9-tile hash table — planted banner twins replace
        # tiles 0-2 with a SHARED banner hash and jitter tile 4 by 2 bits,
        # so each (orig, twin) pair matches 6/9 >= 0.6 while twin-twin
        # pairs share only the 3 banner tiles (3/9, filtered): the oracle
        # value-checks recall, the Hamming tolerance AND the threshold's
        # rejection of the shared-edit trap in one shot.
        #
        # 'decon' (r6 widening, same slot): image decontamination — the
        # full ham_rows corpus screened against a derived benchmark set
        # (per-doc hashes 2 bits inside / 8 bits outside the radius-6
        # screen) via decontaminate_images' broadcast band join; full
        # corpus grain with distinct-hit counts and min Hamming, oracle
        # is the brute-force Hamming join (details at the section
        # construction below).
        #
        # 'waterfall' (r6 widening, same slot): per-tier marginal-
        # contribution stats over the three sections treated as a ladder
        # (rank 0 hamming, 1 tier2, 2 tiles) via dedup_tier_waterfall —
        # the hamming/tier2 planted twins overlap (both plant the
        # xor-1025 pair), so the oracle value-checks min-rank pair
        # attribution, per-tier distinct totals AND node-level first-
        # touch counts in one shot.  Packed into the pair grain as
        # a_id=tier_rank, b_id=marginal_pairs, m1=total_pairs,
        # m2=new_ids (typed-NULL m2 pads the pair sections; both
        # harnesses canonicalize NULL identically).
        docs = _docs(spark, sf).select("doc_id", "text")
        d1 = md5_fingerprint64("text")

        ham_rows = docs.select("doc_id", d1.alias("phash")).unionByName(
            docs.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
                d1.bitwiseXOR(F.lit(1025)).alias("phash"),
            )
        )
        ham_pairs = phash_band_edges(
            ham_rows, CFG, id_col="doc_id", phash_col="phash"
        ).select("a_id", "b_id")
        ham = ham_pairs.select(
            F.lit("hamming").alias("section"), "a_id", "b_id",
            F.lit(None).cast("double").alias("m1"),
        )

        d2 = F.conv(
            F.substring(F.md5(F.concat(F.lit("t2"), F.col("text"))), 1, 15),
            16, 10,
        ).cast("long")
        t2_rows = (
            docs.select("doc_id", d1.alias("phash"), d2.alias("dhash"))
            .unionByName(
                docs.filter(F.col("doc_id") < 30).select(
                    (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
                    d1.bitwiseXOR(F.lit(1025)).alias("phash"),
                    d2.bitwiseXOR(F.lit(9)).alias("dhash"),
                )
            )
            .unionByName(
                docs.filter(F.col("doc_id") < 30).select(
                    (F.col("doc_id") + F.lit(60_000_000)).alias("doc_id"),
                    d1.bitwiseXOR(F.lit(18)).alias("phash"),
                    d2.bitwiseXOR(F.lit(271644049215)).alias("dhash"),
                )
            )
        )
        t2_pairs = phash_band_edges(
            t2_rows, CFG, id_col="doc_id", phash_col="phash",
            verify_col="dhash",
        ).select("a_id", "b_id")
        t2 = t2_pairs.select(
            F.lit("tier2").alias("section"), "a_id", "b_id",
            F.lit(None).cast("double").alias("m1"),
        )

        from fuzzymatch_spark.operators.multimodal import tile_dup_pairs

        def tile_struct(i: int, planted: bool):
            base = md5_fingerprint64(
                F.concat("text", F.lit(f"#tile{i}"))
            )
            if planted and i < 3:
                th = md5_fingerprint64(F.lit(f"banner#tile{i}"))
            elif planted and i == 4:
                th = base.bitwiseXOR(F.lit(17))
            else:
                th = base
            return F.struct(F.lit(i).alias("t"), th.alias("th"))

        def tile_rows(src, planted: bool):
            return src.select(
                "doc_id",
                F.explode(
                    F.array(*[tile_struct(i, planted) for i in range(9)])
                ).alias("s"),
            ).select(
                "doc_id",
                F.col("s.t").alias("tile_idx"),
                F.col("s.th").alias("tile_phash"),
            )

        tiles = tile_rows(docs, False).unionByName(
            tile_rows(
                docs.filter(F.col("doc_id") < 25).select(
                    (F.col("doc_id") + F.lit(70_000_000)).alias("doc_id"),
                    "text",
                ),
                True,
            )
        )
        tl_pairs = tile_dup_pairs(
            tiles, n_tiles=9, id_col="doc_id", tile_col="tile_idx",
            phash_col="tile_phash", max_hamming=2, min_frac=0.6,
        )
        tl = tl_pairs.select(
            F.lit("tiles").alias("section"), "a_id", "b_id",
            F.col("matched_frac").alias("m1"),
        )

        from fuzzymatch_spark.operators.dedup import dedup_tier_waterfall

        ladder = (
            ham_pairs.select(F.lit(0).alias("tier_rank"), "a_id", "b_id")
            .unionByName(
                t2_pairs.select(F.lit(1).alias("tier_rank"), "a_id", "b_id")
            )
            .unionByName(
                tl_pairs.select(F.lit(2).alias("tier_rank"), "a_id", "b_id")
            )
        )
        wf = dedup_tier_waterfall(ladder).select(
            F.lit("waterfall").alias("section"),
            F.col("tier_rank").cast("long").alias("a_id"),
            F.col("marginal_pairs").alias("b_id"),
            F.col("total_pairs").cast("double").alias("m1"),
            F.col("new_ids").cast("double").alias("m2"),
        )

        # 'decon' (r6 widening, same slot): image decontamination — the
        # ham_rows corpus (base + planted twins) screened against a
        # derived benchmark set: per %100==0 doc a hash 2 bits away
        # (contaminated: hits the doc AND, for doc_id<30, its planted
        # twin at distance bit_count(3^1025)=2) and per %100==50 doc a
        # hash 8 bits away (beyond the radius-6 screen).  Full corpus
        # grain: a_id=doc_id, b_id=distinct bench hits (0=clean),
        # m1=min Hamming (NULL=clean).  Oracle: brute-force Hamming
        # join, so recall AND precision of the banded broadcast
        # delivery are value-checked.
        from fuzzymatch_spark.operators.multimodal import (
            decontaminate_images,
        )

        bench = docs.filter(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("bench_id"),
            d1.bitwiseXOR(F.lit(3)).alias("phash"),
        ).unionByName(
            docs.filter(F.col("doc_id") % 100 == 50).select(
                F.col("doc_id").alias("bench_id"),
                d1.bitwiseXOR(F.lit(255)).alias("phash"),
            )
        )
        dc = decontaminate_images(
            ham_rows, bench, corpus_id="doc_id", phash_col="phash",
            max_hamming=6, n_bands=8,
        ).select(
            F.lit("decon").alias("section"),
            F.col("doc_id").alias("a_id"),
            F.col("n_bench_hits").alias("b_id"),
            F.col("min_hamming").cast("double").alias("m1"),
        )

        pad = F.lit(None).cast("double").alias("m2")
        return (
            ham.withColumn("m2", pad)
            .unionByName(t2.withColumn("m2", pad))
            .unionByName(tl.withColumn("m2", pad))
            .unionByName(dc.withColumn("m2", pad))
            .unionByName(wf)
            .orderBy("section", "a_id", "b_id")
        )

    q["image_dedup_suite"] = image_dedup_suite

    def image_caption_gate_q(spark, sf):
        # ORACLE-CHECKED LAION-style metadata curation gate over the
        # north rule's image+caption table shape: per-row keep / first-
        # failing-reason from (w, h, fmt, caption) with zero payload
        # touches (the pre-decode stage).  Metadata synthesized
        # deterministically from doc_id (both engines run the same
        # arithmetic); caption = text; six planted rows pin every branch
        # (keep + all five reject reasons) regardless of corpus content.
        from fuzzymatch_spark.operators.multimodal import image_caption_gate

        meta = _docs(spark, sf).select(
            F.concat(F.lit("img_"), F.col("doc_id")).alias("image_id"),
            (F.lit(32) + (F.col("doc_id") * 7919) % 1200)
            .cast("int").alias("w"),
            (F.lit(32) + (F.col("doc_id") * 104729) % 1200)
            .cast("int").alias("h"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("gif"))
            .when(F.col("doc_id") % 2 == 0, F.lit("png"))
            .otherwise(F.lit("jpeg")).alias("fmt"),
            F.col("text").alias("caption"),
        )
        planted = spark.createDataFrame(
            [
                ("p_keep", 100, 150, "png", "a good caption here"),
                ("p_small", 10, 500, "png", "a good caption here"),
                ("p_aspect", 100, 900, "png", "a good caption here"),
                ("p_fmt", 100, 100, "tiff", "a good caption here"),
                ("p_short", 100, 100, "png", "hi there"),
                ("p_alpha", 100, 100, "png", "123 456 789 000"),
                ("p_nulldim", None, 500, "png", "a good caption here"),
            ],
            "image_id string, w int, h int, fmt string, caption string",
        )
        # Widened (late r6, same per-image grain): the kept rows also get
        # their SDXL-style aspect bucket (nearest-ratio ladder assignment
        # + downscale flag) AND their deterministic (shard, batch_idx)
        # micro-batch assignment within (bucket, shard) — the two stages
        # right after the gate in a real image-training pipeline.
        # Rejected rows carry typed NULLs throughout.
        from fuzzymatch_spark.operators.multimodal import (
            aspect_buckets,
            bucket_batches,
        )

        gated = aspect_buckets(
            image_caption_gate(meta.unionByName(planted))
            .withColumn("keep", F.col("keep").cast("int"))
        )
        kept = F.col("keep") == 1
        batches = bucket_batches(
            gated.filter(kept), batch_size=8, n_shards=4
        ).select("image_id", "shard", "batch_idx")
        return (
            gated.select(
                "image_id", "w", "h", "fmt", "aspect", "caption_tokens",
                "alpha_ratio", "reject_reason", "keep",
                F.when(kept, F.col("bucket_w")).alias("bucket_w"),
                F.when(kept, F.col("bucket_h")).alias("bucket_h"),
                F.when(kept, F.col("downscale")).alias("downscale"),
            )
            .join(batches, on="image_id", how="left")
            .orderBy("image_id")
        )

    q["image_caption_gate"] = image_caption_gate_q

    def phash_knn_capped_pairs(spark, sf):
        # ORACLE-CHECKED degree cap (r6 density control): union-of-kNN
        # sparsification of the Hamming pair graph, cap 2, distance =
        # integer Hamming on the stored digest with ties by neighbor id —
        # fully deterministic cross-engine.  Planted structure: doc_id<20
        # get FOUR variants (2-bit masks 3/5/9/17), forming 5-cliques with
        # uniform pairwise distance 2, so the cap provably binds (each
        # member keeps its 2 smallest-id peers; high-id pairs drop) and
        # the tie-break path is exercised on every planted edge.
        from dataclasses import replace

        d1 = md5_fingerprint64("text")
        docs = _docs(spark, sf).select("doc_id", "text")
        rows = docs.select("doc_id", d1.alias("phash"))
        for off, mask in (
            (60_000_000, 3), (70_000_000, 5), (80_000_000, 9),
            (90_000_000, 17),
        ):
            rows = rows.unionByName(
                docs.filter(F.col("doc_id") < 20).select(
                    (F.col("doc_id") + F.lit(off)).alias("doc_id"),
                    d1.bitwiseXOR(F.lit(mask)).alias("phash"),
                )
            )
        cfg = replace(CFG, phash_degree_cap=2)
        return phash_band_edges(
            rows, cfg, id_col="doc_id", phash_col="phash"
        ).orderBy("a_id", "b_id")

    q["phash_knn_capped_pairs"] = phash_knn_capped_pairs

    def multimodal_relational(spark, sf):
        # ORACLE-CHECKED north-star composite: the same union + CC
        # composition as multimodal_dedup_clusters, but over STORED phash
        # values (no stub decode) and exact caption edges — every leg
        # (caption near-dup edges UNION image Hamming edges -> connected
        # components -> label every row) is DuckDB-expressible, so the
        # whole composite is value-checked end-to-end.  Planted rows are
        # token-reversed captions with 2-bit-flipped phashes: linked to
        # their originals through the IMAGE leg even where the caption leg
        # misses them.
        docs = _docs(spark, sf).select("doc_id", "text")
        base = docs.withColumn("phash", md5_fingerprint64("text"))
        planted = docs.filter(F.col("doc_id") < 30).select(
            (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
            F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
            md5_fingerprint64("text").bitwiseXOR(F.lit(1025)).alias("phash"),
        )
        allrows = base.unionByName(planted).persist()
        sig = compute_signatures(allrows, "doc_id", "text", CFG)
        cap_edges = ngram_jaccard_pairs(
            sig, threshold_pct=JACCARD_PCT
        ).select("a_id", "b_id")
        img_edges = phash_band_edges(
            allrows.select("doc_id", "phash"), CFG, id_col="doc_id",
            phash_col="phash",
        ).select("a_id", "b_id")
        edges = cap_edges.unionByName(img_edges).dropDuplicates(["a_id", "b_id"])
        ids = allrows.select(F.col("doc_id"))
        labels = cluster_assignments(edges, ids, id_col="doc_id").select(
            "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
        )
        # Widened (late r6, same per-image grain): image-flavor survivor
        # selection — each cluster's highest-RESOLUTION member (pixels
        # from the gate entry's deterministic (w, h) formula, ties by min
        # id) is flagged canonical via the skew-immune argmin aggregate.
        from fuzzymatch_spark.operators.multimodal import (
            canonical_image_selection,
        )

        pix = (
            (F.lit(32) + (F.col("doc_id") * 7919) % 1200)
            * (F.lit(32) + (F.col("doc_id") * 104729) % 1200)
        ).cast("long")
        return canonical_image_selection(
            labels.withColumn("pixels", pix), id_col="doc_id"
        ).select("doc_id", "cluster_id", "pixels", "is_canonical")

    q["multimodal_dedup_clusters_relational"] = multimodal_relational

    # ---- multimodal (stub codec; Spark plumbing real: rows-only) ----
    def image_phash_pairs(spark, sf):
        from fuzzymatch_spark.sources.images import build_images_df

        images = build_images_df(spark, _docs(spark, sf), "doc_id", "text")
        return phash_band_edges(images, CFG).orderBy("a_id", "b_id")

    q["image_phash_pairs"] = image_phash_pairs

    def image_exact_dup_edges_q(spark, sf):
        # rows-only (binary payloads aren't SQL-reproducible): tier-0 of
        # the image ladder — byte-identical files as star edges, digest
        # computed where the bytes live.  Planted copies: 25 images
        # re-emitted under *_copy ids with IDENTICAL bytes; the synth
        # corpus itself has no byte-exact pairs (pixels are id-seeded), so
        # the output is exactly the planted star set — deterministic.
        from fuzzymatch_spark.operators.dedup import image_exact_dup_edges
        from fuzzymatch_spark.sources.images import build_images_df

        images = build_images_df(spark, _docs(spark, sf), "doc_id", "text")
        copies = images.filter(
            F.col("image_id").isin([f"img_{i}" for i in range(25)])
        ).select(
            F.concat(F.col("image_id"), F.lit("_copy")).alias("image_id"),
            "bytes", "w", "h", "fmt", "caption", "phash",
        )
        return image_exact_dup_edges(
            images.unionByName(copies)
        ).orderBy("a_id", "b_id")

    q["image_exact_dup_edges"] = image_exact_dup_edges_q

    def mirror_dup_pairs_q(spark, sf):
        # rows-only (decode + numpy canonicalization aren't SQL-
        # reproducible): flip/rotation-resistant dedup via the dihedral-
        # canonical pHash (exactly D4-invariant — min of phash64 over the
        # 8 square symmetries of the FULL-RES pixels), then the unchanged
        # banded Hamming join.  Planted: 20 mirrored/rotated twins, all
        # at canonical Hamming 0; the planted pytest additionally pins
        # that the PLAIN pHash loses >=70% of them at radius 6 and that
        # the operator emits exactly the planted pair set.
        from fuzzymatch_spark.operators.multimodal import mirror_dup_pairs
        from fuzzymatch_spark.sources.images import (
            build_images_df,
            make_flip_png_udf,
        )

        flip_png = make_flip_png_udf()
        images = build_images_df(spark, _docs(spark, sf), "doc_id", "text")
        sub = images.filter(
            F.col("image_id").isin([f"img_{i}" for i in range(200)])
        )
        flipped = sub.filter(
            F.col("image_id").isin([f"img_{i}" for i in range(20)])
        ).select(
            F.concat(F.col("image_id"), F.lit("_mir")).alias("image_id"),
            flip_png("bytes").alias("bytes"),
        )
        return mirror_dup_pairs(
            sub.select("image_id", "bytes").unionByName(flipped), CFG
        ).orderBy("a_id", "b_id")

    q["mirror_dup_pairs"] = mirror_dup_pairs_q

    def image_dedup_clusters_all(spark, sf):
        # rows-only (real codec bytes aren't SQL-reproducible): the full
        # image-side pipeline over the one-decode composite — planted
        # re-encode + mirror + banner twins (one per class per base doc,
        # doc_id < 10 each) -> image_dedup_edges (phash+tier2 ∪ mirror ∪
        # tiles from ONE digest pass) -> connected components.  Each twin
        # must land in its base's cluster; evidence grain is the
        # (cluster, members) assignment, deterministic from seeded synth.
        import numpy as np
        import pandas as pd

        from fuzzymatch_spark.operators.cluster import cluster_assignments
        from fuzzymatch_spark.operators.multimodal import image_dedup_edges
        from fuzzymatch_spark.sources.images import (
            encode_image,
            synth_pixels,
        )

        def gen(batches):
            banner = np.full((16, 48), 235, dtype=np.uint8)
            banner[6:10, 4:44] = 20
            for pdf in batches:
                ids, blobs = [], []
                for rid in pdf["doc_id"].astype(str):
                    px = synth_pixels(f"cl_{rid}")
                    ids.append(f"o_{rid}")
                    blobs.append(encode_image(px, "png"))
                    i = int(rid)
                    if i < 10:  # re-encode twin
                        ids.append(f"re_{rid}")
                        blobs.append(encode_image(px, "jpeg", quality=85))
                    if i < 20 and i >= 10:  # mirror twin
                        ids.append(f"mi_{rid}")
                        blobs.append(encode_image(
                            np.ascontiguousarray(np.fliplr(px)), "png"))
                    if i < 30 and i >= 20:  # banner twin
                        tw = px.copy()
                        tw[32:48, :] = banner
                        ids.append(f"ba_{rid}")
                        blobs.append(encode_image(tw, "png"))
                yield pd.DataFrame({"image_id": ids, "bytes": blobs})

        images = (
            _docs(spark, sf).select("doc_id").filter(F.col("doc_id") < 100)
            .mapInPandas(gen, "image_id string, bytes binary")
        )
        edges = image_dedup_edges(images, CFG).select("a_id", "b_id")
        ids = images.select(F.col("image_id").alias("id"))
        return cluster_assignments(
            edges, ids, id_col="id"
        ).orderBy("id")

    q["image_dedup_clusters_all"] = image_dedup_clusters_all

    def image_bucket_resize(spark, sf):
        # rows-only (real codec bytes aren't SQL-reproducible): the
        # payload half of aspect bucketing — synth images at doc_id-
        # derived geometries -> resize_to_buckets -> every image lands
        # at its ladder bucket's exact dims, re-encoded lossless PNG.
        # md5 of the output bytes pins full pixel determinism (codec +
        # exact integral-image resampler are both deterministic).
        import pandas as pd

        from fuzzymatch_spark.operators.multimodal import (
            resize_to_buckets,
        )
        from fuzzymatch_spark.sources.images import (
            encode_image,
            synth_pixels,
        )

        def gen(batches):
            for pdf in batches:
                ids, blobs, ws, hs = [], [], [], []
                for rid in pdf["doc_id"]:
                    i = int(rid)
                    w = 24 + (i * 13) % 64
                    h = 24 + (i * 29) % 64
                    ids.append(f"rz_{i}")
                    blobs.append(
                        encode_image(synth_pixels(f"rz_{i}", w, h), "png")
                    )
                    ws.append(w)
                    hs.append(h)
                yield pd.DataFrame(
                    {"image_id": ids, "bytes": blobs, "w": ws, "h": hs}
                )

        images = (
            _docs(spark, sf).select("doc_id").filter(F.col("doc_id") < 60)
            .mapInPandas(gen, "image_id string, bytes binary, w int, h int")
        )
        out = resize_to_buckets(
            images, buckets=((24, 48), (32, 32), (48, 24))
        )
        return out.select(
            "image_id", "w", "h", "fmt", F.md5("bytes").alias("px_md5")
        ).orderBy("image_id")

    q["image_bucket_resize"] = image_bucket_resize

    def datasource_phash_pairs(spark, sf):
        # rows-only by nature: the input is the Spark 4 Python DataSource
        # (custom partition-parallel source — no DuckDB analog), feeding
        # the same Hamming combo-join as the parquet paths.  Twin rows
        # planted by the source's dup_fraction guarantee a non-trivial
        # pair set; determinism comes from the seeded synthesis.
        from fuzzymatch_spark.sources.datasource import (
            SyntheticImagesDataSource,
        )

        spark.dataSource.register(SyntheticImagesDataSource)
        images = (
            spark.read.format("fuzzy_synth_images")
            .option("rows", "300").option("partitions", "8")
            .option("dup_fraction", "0.3").load()
        )
        return phash_band_edges(
            images.select(F.col("image_id").alias("doc_id"), "phash"),
            CFG, id_col="doc_id", phash_col="phash",
        ).orderBy("a_id", "b_id")

    q["datasource_phash_pairs"] = datasource_phash_pairs

    def audio_fingerprint_pairs(spark, sf):  # stub codec: rows-only
        # full audio near-dup pipeline: synth+encode -> decode ->
        # RHP band-energy fingerprint -> Hamming band join -> signal-level
        # verify (relative RMS) — the audio analog of the caption pipeline
        from fuzzymatch_spark.operators.dedup import _hamming_band_edges
        from fuzzymatch_spark.operators.multimodal import audio_verify_pairs
        from fuzzymatch_spark.sources.audio import build_audio_df

        clips = build_audio_df(spark, _docs(spark, sf).limit(150), "doc_id")
        cand = _hamming_band_edges(
            clips.select("clip_id", "fingerprint"), "clip_id", "fingerprint",
            n_bands=8, max_hamming=2, source="audio",
        )
        return audio_verify_pairs(cand, clips).select(
            "a_id", "b_id", "rel_rms"
        ).orderBy("a_id", "b_id")

    q["audio_fingerprint_pairs"] = audio_fingerprint_pairs

    def image_decode_stats(spark, sf):
        from fuzzymatch_spark.sources.images import build_images_df, decode_stats

        images = build_images_df(spark, _docs(spark, sf), "doc_id", "text")
        return decode_stats(images).select(
            "image_id", "w", "h",
            F.round("px_mean", 4).alias("px_mean"),
            (F.col("psnr_db") >= 40.0).cast("int").alias("psnr_ok"),
        )

    q["image_decode_stats"] = image_decode_stats

    def multimodal_dedup_clusters(spark, sf):  # stub codec: rows-only
        # THE north-star query in one plan: an image+caption table of the
        # input_hint shape (image_id, bytes, w, h, fmt, caption, phash) ->
        # caption near-dup edges (MinHash/SimHash/exact LSH + two-tier
        # verify) UNION perceptual pHash Hamming edges -> connected
        # components -> (image_id, cluster_id) for every row.  Payloads
        # never shuffle: captions ride the signature UDF once, bytes stay
        # inside the builder.
        from fuzzymatch_spark.sources.images import build_images_df

        docs = _docs(spark, sf).limit(250)
        images = build_images_df(spark, docs, "doc_id", "text").persist()
        sig = compute_signatures(images, "image_id", "caption", DENSE).persist()
        cap_edges = verify_edges(candidate_edges(sig, DENSE), sig, DENSE)
        img_edges = phash_band_edges(
            images.select("image_id", "phash"), CFG
        )
        edges = (
            cap_edges.select("a_id", "b_id")
            .unionByName(img_edges.select("a_id", "b_id"))
            .dropDuplicates(["a_id", "b_id"])
        )
        ids = images.select(F.col("image_id"))
        return cluster_assignments(edges, ids, id_col="image_id").orderBy(
            "image_id"
        )

    q["multimodal_dedup_clusters"] = multimodal_dedup_clusters

    # ---- generic relational coverage (oracle-checked) ----
    def tpch_q1(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        dec = lambda c: F.col(c).cast("decimal(38,6)")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum(dec("l_quantity")).cast("double"), 4).alias("sum_qty"),
                F.round(F.sum(dec("l_extendedprice")).cast("double"), 4).alias("sum_base_price"),
                F.round(
                    F.sum(
                        (dec("l_extendedprice") * (F.lit(1).cast("decimal(38,6)") - dec("l_discount")))
                        .cast("decimal(38,6)")
                    ).cast("double"),
                    4,
                ).alias("sum_disc_price"),
                F.count("*").cast("long").alias("count_order"),
            )
        )

    def tpch_q3(spark, sf):
        cust = spark.read.parquet(f"{sf}/customer.parquet")
        orders = spark.read.parquet(f"{sf}/orders.parquet")
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        dec = lambda c: F.col(c).cast("decimal(38,6)")
        revenue = (
            cust.filter(F.col("c_mktsegment") == "BUILDING")
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey")
            .agg(
                F.round(
                    F.sum(
                        (dec("l_extendedprice") * (F.lit(1).cast("decimal(38,6)") - dec("l_discount")))
                        .cast("decimal(38,6)")
                    ).cast("double"),
                    4,
                ).alias("revenue")
            )
        )
        return revenue.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(20)

    # tpch_q3 is registered as the 'tpch_q3' section of
    # relational_agg_suite (r6 slot consolidation) — same DataFrame code

    def events_user_profile(spark, sf):
        # ONE user-grain entry (r6, oracle-slot consolidation): per-user
        # aggregates (the former events_user_agg) + session-gap window
        # counts (the former events_session_gaps) over the same groupBy —
        # identical column coverage, one driver CORRECTNESS slot
        from pyspark.sql import Window

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ep = F.col("ts").cast("timestamp").cast("long")
        gap = ep - F.lag(ep).over(w)
        return (
            ev.withColumn("gap_s", gap)
            .groupBy("user_id")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 4
                ).alias("sum_value"),
                F.countDistinct("event_type").cast("long").alias("n_types"),
                F.sum((F.col("gap_s") > 3600).cast("int")).cast("long")
                .alias("n_session_breaks"),
            )
        )

    q["events_user_profile"] = events_user_profile

    def broadcast_dim_join(spark, sf):
        sup = spark.read.parquet(f"{sf}/supplier.parquet")
        nat = spark.read.parquet(f"{sf}/nation.parquet")
        reg = spark.read.parquet(f"{sf}/region.parquet")
        return (
            sup.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name")
            .agg(
                F.count("*").cast("long").alias("n_suppliers"),
                F.round(
                    F.sum(F.col("s_acctbal").cast("decimal(38,6)")).cast("double"), 4
                ).alias("sum_acctbal"),
            )
        )

    def relational_agg_suite(spark, sf):
        # ORACLE-CHECKED multi-output relational entry (r6 merge of the
        # former tpch_q1_agg + broadcast_dim_join singles, the VERDICT r5
        # slot-headroom candidates): two aggregate grains union into ONE
        # driver slot behind a section discriminator and generic
        # (k1,k2,cnt,m1,m2,m3) columns; typed-NULL padding keeps every
        # value column engine-comparable (both parity harnesses
        # canonicalize NULL identically).  Coverage is unchanged — the
        # same tpch_q1 / broadcast_dim_join DataFrame code runs, decimal
        # sums, rounding, broadcast hints and all.
        q1 = tpch_q1(spark, sf).select(
            F.lit("tpch_q1").alias("section"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            F.col("count_order").alias("cnt"),
            F.col("sum_qty").alias("m1"),
            F.col("sum_base_price").alias("m2"),
            F.col("sum_disc_price").alias("m3"),
        )
        dim = broadcast_dim_join(spark, sf).select(
            F.lit("dim_join").alias("section"),
            F.col("r_name").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("n_suppliers").alias("cnt"),
            F.col("sum_acctbal").alias("m1"),
            F.lit(None).cast("double").alias("m2"),
            F.lit(None).cast("double").alias("m3"),
        )
        q3 = tpch_q3(spark, sf).select(
            F.lit("tpch_q3").alias("section"),
            F.col("o_orderkey").cast("string").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.lit(None).cast("long").alias("cnt"),
            F.col("revenue").alias("m1"),
            F.lit(None).cast("double").alias("m2"),
            F.lit(None).cast("double").alias("m3"),
        )
        return q1.unionByName(dim).unionByName(q3)

    q["relational_agg_suite"] = relational_agg_suite

    def window_topk_suite(spark, sf):
        # ONE windowed-top-k entry (r6 slot consolidation): per-brand
        # part top-2 (the former part_topk_by_brand) and per-user event
        # top-3 (the former events_topk_per_user) behind a section
        # discriminator and generic (k1, id, val, rn) columns — the same
        # two row_number windows run, unchanged.
        from pyspark.sql import Window

        part = spark.read.parquet(f"{sf}/part.parquet")
        wp = Window.partitionBy("p_brand").orderBy(
            F.desc("p_retailprice"), F.asc("p_partkey")
        )
        parts = (
            part.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= 2)
            .select(
                F.lit("part_brand").alias("section"),
                F.col("p_brand").alias("k1"),
                F.col("p_partkey").cast("long").alias("id"),
                F.col("p_retailprice").cast("double").alias("val"),
                F.col("rn").cast("long").alias("rn"),
            )
        )
        ev = spark.read.parquet(f"{sf}/events.parquet")
        we = Window.partitionBy("user_id").orderBy(
            F.desc("value"), F.asc("event_id")
        )
        events = (
            ev.withColumn("rn", F.row_number().over(we))
            .filter(F.col("rn") <= 3)
            .select(
                F.lit("event_user").alias("section"),
                F.col("user_id").cast("string").alias("k1"),
                F.col("event_id").cast("long").alias("id"),
                F.col("value").cast("double").alias("val"),
                F.col("rn").cast("long").alias("rn"),
            )
        )
        return parts.unionByName(events)

    q["window_topk_suite"] = window_topk_suite

    # ---- registration-order repack (driver CORRECTNESS window) ----
    # The driver validates the FIRST 50 registrations against oracle_sql()
    # at sf0.01.  Rows-only entries (stub codecs, seeded hashes, non-SQL
    # kernels) produce `no_oracle` wherever they sit, so every
    # oracle-backed entry must come first — and there must be at most 50
    # of them, which the assertion pins so a future entry can't silently
    # push an oracle-backed one past the cap again (round-4 verdict).
    oracle_keys = set(oracle_sql())
    missing = oracle_keys - set(q)
    assert not missing, f"oracle_sql keys without queries(): {missing}"
    checked = [k for k in q if k in oracle_keys]
    assert len(checked) <= 50, (
        f"{len(checked)} oracle-backed entries exceed the driver's "
        "50-entry CORRECTNESS window — consolidate before adding more"
    )
    rows_only = [k for k in q if k not in oracle_keys]
    return {k: q[k] for k in checked + rows_only}


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; tables pre-registered as views)
# --------------------------------------------------------------------------

# position enumerations are bounded by the corpus's actual max text length
# (a fixed literal bound would silently truncate grams for longer docs and
# fail the validation against the CORRECT Spark result)
_NUMS = ("nums AS (SELECT unnest(range(1, "
         "(SELECT max(len(text)) + 1 FROM documents))) AS i)")

_GRAMS = f"""
{_NUMS},
grams AS (
  SELECT DISTINCT d.doc_id,
         ascii(substr(d.text, n.i, 1))
         + 256 * ascii(substr(d.text, n.i + 1, 1))
         + 65536 * ascii(substr(d.text, n.i + 2, 1)) AS g
  FROM documents d JOIN nums n ON n.i <= len(d.text) - 2
  WHERE substr(d.text, n.i, 3) NOT LIKE '% %'
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id)
"""

_JACCARD_EDGES_BODY = f"""{_GRAMS},
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT i.a_id, i.b_id, i.c, sa.n AS na, sb.n AS nb
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.a_id
  JOIN sizes sb ON sb.doc_id = i.b_id
  WHERE 100 * i.c >= {JACCARD_PCT} * (sa.n + sb.n - i.c)
)"""

_JACCARD_EDGES = "WITH " + _JACCARD_EDGES_BODY

# Two unrolled deterministic Lloyd iterations over a (vec_id, embedding)
# relation (shared by the kmeans_clusters / cluster_agreement_ari /
# text_kmeans_clusters oracles): a0 = assignment under the first-8 init
# codebook, a1 = assignment after one 6-dp-rounded mean update.  Mirrors
# operators/ann.py:kmeans_lloyd semantics exactly.
def _kmeans_ctes(src: str) -> str:
    return _KMEANS_CTES_TMPL.replace("__SRC__", src)


# Hashing-trick text vectors (operators/corpus.py:hash_vectorize) as a CTE:
# 31-ary polynomial rolling hash mod 1e9+7 per token -> bucket mod 64 ->
# per-bucket counts as a 64-dim double list.  list_reduce has no init
# accumulator in DuckDB (acc starts at the first element) — identical to a
# zero-init fold here because (0*31 + c0) % M == c0.
_TVEC_CTE = """tvec AS (
              SELECT doc_id AS vec_id,
                     list_transform(range(0, 64),
                       d -> CAST(len(list_filter(bks, b -> b = d))
                                 AS DOUBLE)) AS embedding
              FROM (
                SELECT doc_id,
                       list_transform(
                         list_filter(string_split(text, ' '),
                                     t -> len(t) > 0),
                         t -> list_reduce(
                                list_transform(
                                  range(1, len(t) + 1),
                                  i -> CAST(ascii(substr(t, i, 1))
                                            AS BIGINT)),
                                (acc, c) -> (acc * 31 + c) % 1000000007
                              ) % 64) AS bks
                FROM documents)
            )"""


_KMEANS_CTES_TMPL = """nums AS (SELECT unnest(range(1, 65)) AS i),
            cents0 AS (
              SELECT vec_id AS cid, embedding FROM __SRC__
              WHERE vec_id < 8
            ),
            p0 AS (
              -- zero-norm convention mirrors operators/ann.py
              -- _assign_labeled: a zero vector or zero centroid pins
              -- cos := 0 (not NULL/NaN), so both engines agree by
              -- construction on degenerate inputs
              SELECT e.vec_id, c.cid,
                     CASE WHEN sum(CAST(e.embedding[n.i] AS DOUBLE)
                                   * CAST(e.embedding[n.i] AS DOUBLE)) = 0
                            OR sum(CAST(c.embedding[n.i] AS DOUBLE)
                                   * CAST(c.embedding[n.i] AS DOUBLE)) = 0
                          THEN 0.0
                          ELSE
                     round(sum(CAST(e.embedding[n.i] AS DOUBLE)
                               * CAST(c.embedding[n.i] AS DOUBLE))
                           / (sqrt(sum(CAST(e.embedding[n.i] AS DOUBLE)
                                       * CAST(e.embedding[n.i] AS DOUBLE)))
                              * sqrt(sum(CAST(c.embedding[n.i] AS DOUBLE)
                                         * CAST(c.embedding[n.i] AS DOUBLE)))),
                           6) END AS cos
              FROM __SRC__ e, cents0 c, nums n
              WHERE n.i <= len(e.embedding)
              GROUP BY e.vec_id, c.cid
            ),
            a0 AS (
              SELECT vec_id, cid AS cell FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos DESC, cid ASC) AS rn
                FROM p0
              ) WHERE rn = 1
            ),
            c1 AS (
              SELECT a0.cell AS cid, n.i AS dim,
                     round(CAST(sum(CAST(CAST(e.embedding[n.i] AS DOUBLE)
                                         AS DECIMAL(38,18))) AS DOUBLE)
                           / count(*), 6) AS v
              FROM __SRC__ e JOIN a0 USING (vec_id), nums n
              WHERE n.i <= len(e.embedding)
              GROUP BY a0.cell, n.i
            ),
            p1 AS (
              -- same zero-norm convention as p0 (cos := 0)
              SELECT e.vec_id, c1.cid,
                     CASE WHEN sum(CAST(e.embedding[c1.dim] AS DOUBLE)
                                   * CAST(e.embedding[c1.dim] AS DOUBLE)) = 0
                            OR sum(c1.v * c1.v) = 0
                          THEN 0.0
                          ELSE
                     round(sum(CAST(e.embedding[c1.dim] AS DOUBLE) * c1.v)
                           / (sqrt(sum(CAST(e.embedding[c1.dim] AS DOUBLE)
                                       * CAST(e.embedding[c1.dim] AS DOUBLE)))
                              * sqrt(sum(c1.v * c1.v))), 6) END AS cos
              FROM __SRC__ e, c1
              WHERE c1.dim <= len(e.embedding)
              GROUP BY e.vec_id, c1.cid
            ),
            a1 AS (
              SELECT vec_id, cid AS cluster, cos FROM (
                SELECT vec_id, cid, cos,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos DESC, cid ASC) AS rn
                FROM p1
              ) WHERE rn = 1
            )"""


def oracle_sql() -> dict[str, str]:
    a_params, b_params = minhash_params(CFG.num_perm, CFG.seed)
    mh_cols = ",\n    ".join(
        f"CAST(min(({int(a_params[i])} * CAST(g AS BIGINT) + {int(b_params[i])}) % 4294967311) AS BIGINT) AS mh{i}"
        for i in range(4)
    )

    def _mh_expr(i: int) -> str:
        return (
            f"min(({int(a_params[i])} * CAST(g AS BIGINT) + "
            f"{int(b_params[i])}) % 4294967311)"
        )

    r = DENSE.rows_per_band
    band_keys = ",\n              ".join(
        "concat_ws(','," + ", ".join(
            f"CAST({_mh_expr(j * r + i)} AS VARCHAR)" for i in range(r)
        ) + f") AS k{j}"
        for j in range(DENSE.bands)
    )
    band_union = "\n              UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, k{j} AS key FROM sigs"
        for j in range(DENSE.bands)
    )
    minhash_lsh_sql = f"""
            WITH {_GRAMS},
            sigs AS (
              SELECT doc_id,
              {band_keys}
              FROM grams GROUP BY doc_id
            ),
            bands AS (
              {band_union}
            )
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   'minhash' AS source
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.key = b.key
                        AND a.doc_id < b.doc_id
            GROUP BY 1, 2
    """
    _wk, _ww, _wb, _wm = 6, 4, 257, 2147483647
    _wterms = " + ".join(
        f"ascii(substr(d.text, n.i + {j}, 1)) * {_wb ** (_wk - 1 - j)}"
        for j in range(_wk)
    )
    winnow_sql = f"""
            WITH {_NUMS},
            grams AS (
              SELECT d.doc_id, n.i AS pos,
                     ({_wterms}) % {_wm} AS h
              FROM documents d JOIN nums n
                ON n.i <= len(d.text) - {_wk - 1}
            ),
            wmin AS (
              SELECT doc_id, pos,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW
                                  AND {_ww - 1} FOLLOWING) AS fp,
                     count(*) OVER (PARTITION BY doc_id) AS n
              FROM grams
            )
            SELECT DISTINCT doc_id, fp
            FROM wmin WHERE pos <= n - {_ww - 1}
    """
    # stored-phash fragments: 60-bit md5 fingerprint (the doc_fingerprint
    # scheme) + planted 2-bit-flipped near-twins (ids offset by 50M)
    _fp = "CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)"
    phash_rows = f"""
            fps AS (
              SELECT doc_id, {_fp} AS phash FROM documents
              UNION ALL
              SELECT doc_id + 50000000 AS doc_id, xor({_fp}, 1025) AS phash
              FROM documents WHERE doc_id < 30
            )"""
    # brute-force Hamming oracle: the Manku band join is recall-complete
    # (pigeonhole) and bit_count-verified, so its output equals this set
    _fp2 = "CAST(('0x' || substr(md5('t2' || text), 1, 15)) AS BIGINT)"
    # the positional-tile fingerprints for the 'tiles' section: one 60-bit
    # hash per (doc, grid position); planted banner twins replace t<3 with
    # a SHARED banner hash and 2-bit-jitter t=4
    _tfp = ("CAST(('0x' || substr(md5(text || '#tile' || "
            "CAST(n.t AS VARCHAR)), 1, 15)) AS BIGINT)")
    _bfp = ("CAST(('0x' || substr(md5('banner#tile' || "
            "CAST(n.t AS VARCHAR)), 1, 15)) AS BIGINT)")
    # merged image-dedup oracle: brute-force Hamming join ('hamming'),
    # brute-force two-digest join ('tier2': primary radius 6 AND
    # independent-digest radius 8), the brute-force positional tile
    # containment ('tiles': same-position Hamming<=4 matches, >=0.6 of 9),
    # and the ladder 'waterfall' over those three pair sets (per-tier
    # distinct totals, min-rank marginal pairs, first-touch id counts —
    # packed a_id=rank, b_id=marginal, m1=total, m2=new_ids)
    image_dedup_sql = f"""
            WITH {phash_rows},
            ham_pairs AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id
                FROM fps a JOIN fps b ON a.doc_id < b.doc_id
                WHERE bit_count(xor(a.phash, b.phash)) <= 6
            ),
            t2rows AS (
                SELECT doc_id, {_fp} AS phash, {_fp2} AS dhash FROM documents
                UNION ALL
                SELECT doc_id + 50000000 AS doc_id, xor({_fp}, 1025) AS phash,
                       xor({_fp2}, 9) AS dhash
                FROM documents WHERE doc_id < 30
                UNION ALL
                SELECT doc_id + 60000000 AS doc_id, xor({_fp}, 18) AS phash,
                       xor({_fp2}, 271644049215) AS dhash
                FROM documents WHERE doc_id < 30
            ),
            t2_pairs AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id
                FROM t2rows a JOIN t2rows b ON a.doc_id < b.doc_id
                WHERE bit_count(xor(a.phash, b.phash)) <= 6
                  AND bit_count(xor(a.dhash, b.dhash)) <= 8
            ),
            tnums AS (SELECT unnest(range(0, 9)) AS t),
            tiles AS (
                SELECT doc_id, n.t, {_tfp} AS th FROM documents, tnums n
                UNION ALL
                SELECT doc_id + 70000000 AS doc_id, n.t,
                       CASE WHEN n.t < 3 THEN {_bfp}
                            WHEN n.t = 4 THEN xor({_tfp}, 17)
                            ELSE {_tfp} END AS th
                FROM documents, tnums n WHERE doc_id < 25
            ),
            tmatch AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                       count(DISTINCT a.t) AS c
                FROM tiles a
                JOIN tiles b ON a.t = b.t AND a.doc_id < b.doc_id
                WHERE bit_count(xor(a.th, b.th)) <= 2
                GROUP BY a.doc_id, b.doc_id
            ),
            tile_pairs AS (
                SELECT a_id, b_id, round(c / 9.0, 6) AS m1 FROM tmatch
                WHERE round(c / 9.0, 6) >= 0.6
            ),
            tier_edges AS (
                SELECT 0 AS r, a_id, b_id FROM ham_pairs
                UNION ALL SELECT 1 AS r, a_id, b_id FROM t2_pairs
                UNION ALL SELECT 2 AS r, a_id, b_id FROM tile_pairs
            ),
            wf_totals AS (
                SELECT r, count(*) AS total FROM (
                    SELECT DISTINCT r, a_id, b_id FROM tier_edges
                ) GROUP BY r
            ),
            wf_marginal AS (
                SELECT fr AS r, count(*) AS marg FROM (
                    SELECT a_id, b_id, min(r) AS fr FROM tier_edges
                    GROUP BY a_id, b_id
                ) GROUP BY fr
            ),
            wf_newids AS (
                SELECT fr AS r, count(*) AS nids FROM (
                    SELECT id, min(r) AS fr FROM (
                        SELECT r, a_id AS id FROM tier_edges
                        UNION ALL
                        SELECT r, b_id AS id FROM tier_edges
                    ) GROUP BY id
                ) GROUP BY fr
            ),
            dbench AS (
                SELECT doc_id AS bench_id, xor({_fp}, 3) AS phash
                FROM documents WHERE doc_id % 100 = 0
                UNION ALL
                SELECT doc_id AS bench_id, xor({_fp}, 255) AS phash
                FROM documents WHERE doc_id % 100 = 50
            ),
            dhits AS (
                SELECT f.doc_id, count(*) AS n_hits,
                       min(bit_count(xor(f.phash, b.phash))) AS md
                FROM fps f JOIN dbench b
                  ON bit_count(xor(f.phash, b.phash)) <= 6
                GROUP BY f.doc_id
            )
            SELECT 'hamming' AS section, a_id, b_id,
                   CAST(NULL AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2
            FROM ham_pairs
            UNION ALL
            SELECT 'tier2' AS section, a_id, b_id,
                   CAST(NULL AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2
            FROM t2_pairs
            UNION ALL
            SELECT 'tiles' AS section, a_id, b_id, m1,
                   CAST(NULL AS DOUBLE) AS m2
            FROM tile_pairs
            UNION ALL
            SELECT 'decon' AS section, f.doc_id AS a_id,
                   coalesce(h.n_hits, 0) AS b_id,
                   CAST(h.md AS DOUBLE) AS m1,
                   CAST(NULL AS DOUBLE) AS m2
            FROM fps f LEFT JOIN dhits h ON h.doc_id = f.doc_id
            UNION ALL
            SELECT 'waterfall' AS section, t.r AS a_id,
                   coalesce(m.marg, 0) AS b_id,
                   CAST(t.total AS DOUBLE) AS m1,
                   CAST(coalesce(n.nids, 0) AS DOUBLE) AS m2
            FROM wf_totals t
            LEFT JOIN wf_marginal m ON m.r = t.r
            LEFT JOIN wf_newids n ON n.r = t.r
    """
    # union-of-kNN degree cap oracle: integer Hamming distance, ties by
    # neighbor id, an edge survives if EITHER endpoint ranks it in its cap
    phash_knn_sql = f"""
            WITH knnrows AS (
              SELECT doc_id, {_fp} AS phash FROM documents
              UNION ALL
              SELECT doc_id + 60000000 AS doc_id, xor({_fp}, 3) AS phash
              FROM documents WHERE doc_id < 20
              UNION ALL
              SELECT doc_id + 70000000 AS doc_id, xor({_fp}, 5) AS phash
              FROM documents WHERE doc_id < 20
              UNION ALL
              SELECT doc_id + 80000000 AS doc_id, xor({_fp}, 9) AS phash
              FROM documents WHERE doc_id < 20
              UNION ALL
              SELECT doc_id + 90000000 AS doc_id, xor({_fp}, 17) AS phash
              FROM documents WHERE doc_id < 20
            ),
            pairs AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     bit_count(xor(a.phash, b.phash)) AS dist
              FROM knnrows a JOIN knnrows b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.phash, b.phash)) <= 6
            ),
            directed AS (
              SELECT a_id AS node, b_id AS other, a_id, b_id, dist FROM pairs
              UNION ALL
              SELECT b_id AS node, a_id AS other, a_id, b_id, dist FROM pairs
            ),
            ranked AS (
              SELECT a_id, b_id,
                     row_number() OVER (PARTITION BY node
                                        ORDER BY dist, other) AS rn
              FROM directed
            )
            SELECT DISTINCT a_id, b_id, 'phash' AS source FROM ranked
            WHERE rn <= 2
            ORDER BY a_id, b_id
    """
    # north-star composite: caption jaccard edges UNION stored-phash
    # Hamming edges -> recursive-CTE connected components -> label all rows
    multimodal_rel_sql = f"""
            WITH RECURSIVE
            allrows AS (
              SELECT doc_id, text, {_fp} AS phash FROM documents
              UNION ALL
              SELECT doc_id + 50000000 AS doc_id,
                     array_to_string(list_reverse(string_split(text, ' ')),
                                     ' ') AS text,
                     xor({_fp}, 1025) AS phash
              FROM documents WHERE doc_id < 30
            ),
            nums AS (SELECT unnest(range(1,
              (SELECT max(len(text)) + 1 FROM allrows))) AS i),
            grams AS (
              SELECT DISTINCT d.doc_id,
                     ascii(substr(d.text, n.i, 1))
                     + 256 * ascii(substr(d.text, n.i + 1, 1))
                     + 65536 * ascii(substr(d.text, n.i + 2, 1)) AS g
              FROM allrows d JOIN nums n ON n.i <= len(d.text) - 2
              WHERE substr(d.text, n.i, 3) NOT LIKE '% %'
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
              FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            cap_edges AS (
              SELECT i.a_id, i.b_id
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.a_id
              JOIN sizes sb ON sb.doc_id = i.b_id
              WHERE 100 * i.c >= {JACCARD_PCT} * (sa.n + sb.n - i.c)
            ),
            ph_edges AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM allrows a JOIN allrows b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.phash, b.phash)) <= 6
            ),
            edges AS (
              SELECT a_id, b_id FROM cap_edges
              UNION SELECT a_id, b_id FROM ph_edges
            ),
            bi AS (
              SELECT a_id AS u, b_id AS v FROM edges
              UNION SELECT b_id, a_id FROM edges
            ),
            walk(u, v) AS (
              SELECT u, v FROM bi
              UNION
              SELECT w.u, e.v FROM walk w JOIN bi e ON w.v = e.u
            ),
            mins AS (SELECT u, min(v) AS m FROM walk GROUP BY u),
            labels AS (
              SELECT d.doc_id,
                     CAST(COALESCE(least(d.doc_id, r.m), d.doc_id)
                          AS BIGINT) AS cluster_id,
                     CAST((32 + (d.doc_id * 7919) % 1200)
                          * (32 + (d.doc_id * 104729) % 1200)
                          AS BIGINT) AS pixels
              FROM allrows d LEFT JOIN mins r ON r.u = d.doc_id
            )
            SELECT doc_id, cluster_id, pixels,
                   CAST(CASE WHEN ROW_NUMBER() OVER (
                          PARTITION BY cluster_id
                          ORDER BY pixels DESC, doc_id) = 1
                        THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
            FROM labels
    """
    _ffp = lambda expr: (
        f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
    )
    video_containment_sql = f"""
            WITH docs2 AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 200
            ),
            idx AS (SELECT unnest(range(0, 8)) AS i),
            frames AS (
              SELECT 'v' || CAST(doc_id AS VARCHAR) AS vid,
                     i AS frame_idx,
                     {_ffp("text || '#' || CAST(i AS VARCHAR)")} AS ph
              FROM docs2, idx
              UNION ALL
              SELECT 'v' || CAST(doc_id AS VARCHAR) || 'd' AS vid,
                     i AS frame_idx,
                     CASE WHEN i < 6
                       THEN xor({_ffp("text || '#' || CAST(i AS VARCHAR)")}, 5)
                       ELSE {_ffp("text || '#x' || CAST(i AS VARCHAR)")}
                     END AS ph
              FROM docs2, idx WHERE doc_id % 2 = 0
            ),
            nf AS (SELECT vid, count(*) AS n FROM frames GROUP BY vid),
            m AS (
              SELECT a.vid AS v1, b.vid AS v2,
                     a.frame_idx AS f1, b.frame_idx AS f2
              FROM frames a JOIN frames b
                ON a.vid < b.vid AND bit_count(xor(a.ph, b.ph)) <= 6
            ),
            agg AS (
              SELECT v1, v2, count(DISTINCT f1) AS m1,
                     count(DISTINCT f2) AS m2
              FROM m GROUP BY v1, v2
            ),
            scored AS (
              SELECT v1, v2,
                     round(CASE WHEN na.n <= nb.n THEN m1 * 1.0 / na.n
                           ELSE m2 * 1.0 / nb.n END, 6) AS matched_frac
              FROM agg
              JOIN nf na ON na.vid = agg.v1
              JOIN nf nb ON nb.vid = agg.v2
            )
            ,
            sframes AS (
              SELECT 'v' || CAST(doc_id AS VARCHAR) AS vid,
                     i AS frame_idx,
                     xor(CAST(('0x' || substr(md5(text || '#s' || CAST(CASE WHEN i < 3 THEN 0 WHEN i < 5 THEN 1 ELSE 2 END AS VARCHAR)), 1, 15)) AS BIGINT), i % 3) AS ph
              FROM docs2, idx
            ),
            smarked AS (
              SELECT vid, frame_idx,
                     CASE WHEN prev IS NULL
                            OR bit_count(xor(ph, prev)) > 16
                          THEN 1 ELSE 0 END AS b
              FROM (
                SELECT vid, frame_idx, ph,
                       lag(ph) OVER (PARTITION BY vid
                                     ORDER BY frame_idx) AS prev
                FROM sframes
              )
            ),
            sid AS (
              SELECT vid, frame_idx,
                     sum(b) OVER (PARTITION BY vid ORDER BY frame_idx
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS shot_id
              FROM smarked
            ),
            shots AS (
              SELECT vid, shot_id,
                     CAST(min(frame_idx) AS BIGINT) AS s,
                     CAST(max(frame_idx) AS BIGINT) AS e,
                     CAST(count(*) AS BIGINT) AS n
              FROM sid GROUP BY vid, shot_id
            )
            SELECT 'containment' AS section, v1 AS k1, v2 AS k2,
                   CAST(NULL AS BIGINT) AS cnt, matched_frac AS m1,
                   CAST(NULL AS DOUBLE) AS m2
            FROM scored WHERE matched_frac >= 0.5
            UNION ALL
            SELECT 'shots' AS section, vid AS k1,
                   CAST(shot_id AS VARCHAR) AS k2, n AS cnt,
                   CAST(s AS DOUBLE) AS m1, CAST(e AS DOUBLE) AS m2
            FROM shots
    """
    # token-level SimHash: per-bit majority vote over md5 token
    # fingerprints (60 sum expressions; bit powers are disjoint so the
    # CASE sum equals the bitwise OR the Spark side uses)
    _sh_votes = ",\n                     ".join(
        f"sum(CASE WHEN ((fp >> {k}) & 1) = 1 THEN 1 ELSE -1 END) AS v{k}"
        for k in range(60)
    )
    _sh_build = "\n                   + ".join(
        f"CASE WHEN v{k} > 0 THEN (CAST(1 AS BIGINT) << {k}) ELSE 0 END"
        for k in range(60)
    )

    def _simhash_sql(rows_cte: str) -> str:
        return f"""
            WITH {rows_cte},
            toks AS (
              SELECT d.doc_id, t.tok
              FROM srows d, unnest(string_split(d.text, ' ')) AS t(tok)
              WHERE len(t.tok) > 0
            ),
            fps AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS fp
              FROM toks
            ),
            votes AS (
              SELECT doc_id,
                     {_sh_votes}
              FROM fps GROUP BY doc_id
            ),
            sigs AS (
              SELECT doc_id,
                     ({_sh_build}) AS simhash
              FROM votes
            )"""

    simhash_pairs_sql = (
        _simhash_sql("""srows AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 80000000 AS doc_id,
                     'zzz' || substr(text, strpos(text, ' ')) AS text
              FROM documents
              WHERE doc_id < 30 AND strpos(text, ' ') > 0
            )""")
        + """
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   'simhash' AS source
            FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
        """
    )
    return {
        "winnow_fingerprints": winnow_sql,
        "simhash_token_pairs": simhash_pairs_sql,
        "image_dedup_suite": image_dedup_sql,
        # LAION-style metadata gate: deterministic doc_id-derived
        # metadata + six planted branch-pinning rows; first-failing-rule
        # CASE order matches the operator's pinned precedence; DuckDB
        # regexp_replace needs the 'g' flag (Spark's is global already)
        "image_caption_gate": """
            WITH meta AS (
              SELECT 'img_' || CAST(doc_id AS VARCHAR) AS image_id,
                     CAST(32 + (doc_id * 7919) % 1200 AS INTEGER) AS w,
                     CAST(32 + (doc_id * 104729) % 1200 AS INTEGER) AS h,
                     CASE WHEN doc_id % 11 = 0 THEN 'gif'
                          WHEN doc_id % 2 = 0 THEN 'png'
                          ELSE 'jpeg' END AS fmt,
                     text AS caption
              FROM documents
              UNION ALL
              SELECT * FROM (VALUES
                ('p_keep', 100, 150, 'png', 'a good caption here'),
                ('p_small', 10, 500, 'png', 'a good caption here'),
                ('p_aspect', 100, 900, 'png', 'a good caption here'),
                ('p_fmt', 100, 100, 'tiff', 'a good caption here'),
                ('p_short', 100, 100, 'png', 'hi there'),
                ('p_alpha', 100, 100, 'png', '123 456 789 000'),
                ('p_nulldim', NULL, 500, 'png', 'a good caption here')
              ) AS v(image_id, w, h, fmt, caption)
            ),
            g AS (
              -- coalesce pins the NULL-caption convention (reject as
              -- short_caption), matching the operator
              SELECT image_id, w, h, fmt,
                     round(CAST(greatest(w, h) AS DOUBLE)
                           / least(w, h), 6) AS aspect,
                     CAST(len(list_filter(string_split(
                              coalesce(caption, ''), ' '),
                              x -> x <> '')) AS INTEGER)
                       AS caption_tokens,
                     CASE WHEN length(coalesce(caption, '')) = 0 THEN 0.0
                          ELSE round(CAST(length(regexp_replace(caption,
                                   '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                               / length(caption), 6)
                     END AS alpha_ratio
              FROM meta
            ),
            r AS (
              SELECT *,
                     CASE WHEN w IS NULL OR h IS NULL
                            OR least(w, h) < 64 THEN 'too_small'
                          WHEN aspect > 3.0 THEN 'bad_aspect'
                          WHEN lower(fmt) NOT IN ('png', 'jpeg')
                            THEN 'bad_format'
                          WHEN caption_tokens < 3 THEN 'short_caption'
                          WHEN alpha_ratio < 0.5 THEN 'low_alpha'
                     END AS reject_reason
              FROM g
            ),
            fin AS (
              SELECT image_id, w, h, fmt, aspect, caption_tokens,
                     alpha_ratio, reject_reason,
                     CAST(CASE WHEN reject_reason IS NULL
                          THEN 1 ELSE 0 END AS INTEGER) AS keep
              FROM r
            ),
            ladder(i, bw, bh) AS (VALUES
              (0, 512, 2048), (1, 576, 1792), (2, 640, 1600),
              (3, 704, 1408), (4, 768, 1344), (5, 832, 1216),
              (6, 896, 1152), (7, 960, 1088), (8, 1024, 1024),
              (9, 1088, 960), (10, 1152, 896), (11, 1216, 832),
              (12, 1344, 768), (13, 1408, 704), (14, 1600, 640),
              (15, 1792, 576), (16, 2048, 512)
            ),
            -- ratio distance max(a/b, b/a): pure IEEE divisions, so both
            -- engines compute bit-identical doubles (no ln())
            cand AS (
              SELECT f.image_id, l.i, l.bw, l.bh,
                     greatest(
                       (CAST(f.w AS DOUBLE) / f.h)
                         / (CAST(l.bw AS DOUBLE) / l.bh),
                       (CAST(l.bw AS DOUBLE) / l.bh)
                         / (CAST(f.w AS DOUBLE) / f.h)
                     ) AS d
              FROM fin f, ladder l
            ),
            pick AS (
              SELECT image_id, bw, bh,
                     ROW_NUMBER() OVER (PARTITION BY image_id
                                        ORDER BY d, i) AS rn
              FROM cand
            ),
            -- deterministic micro-batches over the kept rows: shard =
            -- 60-bit md5 fingerprint mod 4, batch = (rank-1) // 8 within
            -- (bucket, shard) in id order
            keptrows AS (
              SELECT f.image_id, p.bw, p.bh,
                     CAST(('0x' || substr(md5(f.image_id), 1, 15))
                          AS BIGINT) % 4 AS sh
              FROM fin f JOIN pick p
                ON p.image_id = f.image_id AND p.rn = 1
              WHERE f.keep = 1
            ),
            batched AS (
              SELECT image_id, CAST(sh AS INTEGER) AS shard,
                     CAST((ROW_NUMBER() OVER (PARTITION BY bw, bh, sh
                             ORDER BY image_id) - 1) // 8
                          AS BIGINT) AS batch_idx
              FROM keptrows
            )
            SELECT f.image_id, f.w, f.h, f.fmt, f.aspect,
                   f.caption_tokens, f.alpha_ratio, f.reject_reason,
                   f.keep,
                   CASE WHEN f.keep = 1 THEN p.bw END AS bucket_w,
                   CASE WHEN f.keep = 1 THEN p.bh END AS bucket_h,
                   CASE WHEN f.keep = 1 THEN
                     CAST(CASE WHEN CAST(f.w AS BIGINT) * f.h
                                    > CAST(p.bw AS BIGINT) * p.bh
                          THEN 1 ELSE 0 END AS INTEGER)
                   END AS downscale,
                   b.shard, b.batch_idx
            FROM fin f JOIN pick p
              ON p.image_id = f.image_id AND p.rn = 1
            LEFT JOIN batched b ON b.image_id = f.image_id
            ORDER BY f.image_id
        """,
        "phash_knn_capped_pairs": phash_knn_sql,
        "video_analysis_suite": video_containment_sql,
        "multimodal_dedup_clusters_relational": multimodal_rel_sql,
        "minhash_lsh_pairs": minhash_lsh_sql,
        "doc_signature_stats": f"""
            WITH {_GRAMS},
            chars AS (
              SELECT d.doc_id, substr(d.text, n.i, 1) AS c
              FROM documents d JOIN nums n ON n.i <= len(d.text)
            ),
            masks AS (
              SELECT doc_id,
                     CAST(sum(DISTINCT CASE WHEN c BETWEEN 'a' AND 'z'
                          THEN (CAST(1 AS BIGINT) << (ascii(c) - 97))
                          ELSE 0 END) AS BIGINT) AS char_mask
              FROM chars GROUP BY doc_id
            )
            SELECT d.doc_id,
                   lower(d.text) AS caption_norm,
                   CAST(len(d.text) AS BIGINT) AS n_chars_norm,
                   CAST(COALESCE(s.n, 0) AS BIGINT) AS n_shingles,
                   m.char_mask
            FROM documents d
            LEFT JOIN sizes s ON s.doc_id = d.doc_id
            JOIN masks m ON m.doc_id = d.doc_id
        """,
        "minhash_sig4": f"""
            WITH {_GRAMS}
            SELECT doc_id, {mh_cols}
            FROM grams GROUP BY doc_id
        """,
        "token_reorder_dedup": """
            WITH allrows AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000 AS doc_id,
                     array_to_string(list_reverse(string_split(text, ' ')), ' ')
                       AS text
              FROM documents WHERE doc_id < 20
            )
            SELECT min(doc_id) AS canonical_id,
                   CAST(count(*) AS BIGINT) AS group_size
            FROM (SELECT doc_id,
                         array_to_string(list_sort(string_split(text, ' ')), ' ') AS key
                  FROM allrows)
            GROUP BY key HAVING count(*) > 1
        """,
        # this oracle is the full inverted-index join: prefix filtering is
        # recall-complete and the verify is exact, so the PPJoin output
        # must EQUAL the unfiltered join's pair set (the hash check pins
        # that the prefix filter loses nothing)
        "ngram_jaccard_prefix_pairs": f"""
            {_JACCARD_EDGES}
            SELECT a_id, b_id, CAST(c AS BIGINT) AS inter,
                   CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb
            FROM edges
        """,
        "verified_jaccard_edges": f"""
            WITH {_GRAMS},
            inter AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
              FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            cand AS (
              SELECT i.a_id, i.b_id, i.c, sa.n AS na, sb.n AS nb
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.a_id
              JOIN sizes sb ON sb.doc_id = i.b_id
              WHERE 100 * i.c >= 60 * (sa.n + sb.n - i.c)
            ),
            txt AS (SELECT doc_id, lower(text) AS t FROM documents)
            SELECT e.a_id, e.b_id,
                   CASE WHEN ta.t = tb.t THEN 'exact' ELSE 'jaccard' END AS kind,
                   round(CASE WHEN ta.t = tb.t THEN 1.0
                         ELSE e.c * 1.0 / (e.na + e.nb - e.c) END, 6) AS jaccard
            FROM cand e
            JOIN txt ta ON ta.doc_id = e.a_id
            JOIN txt tb ON tb.doc_id = e.b_id
            WHERE ta.t = tb.t
               OR e.c * 1.0 / (e.na + e.nb - e.c) >= 0.9
        """,
        "dedup_clusters": "WITH RECURSIVE " + f"""
            {_JACCARD_EDGES_BODY},
            bi AS (
              SELECT a_id AS u, b_id AS v FROM edges
              UNION SELECT b_id, a_id FROM edges
            ),
            walk(u, v) AS (
              SELECT u, v FROM bi
              UNION
              SELECT w.u, e.v FROM walk w JOIN bi e ON w.v = e.u
            ),
            mins AS (SELECT u, min(v) AS m FROM walk GROUP BY u),
            labels AS (
              SELECT d.doc_id,
                     COALESCE(least(d.doc_id, r.m), d.doc_id) AS cluster_id,
                     CAST(len(d.text) AS BIGINT) AS n_chars
              FROM documents d LEFT JOIN mins r ON r.u = d.doc_id
            )
            SELECT doc_id,
                   CAST(cluster_id AS BIGINT) AS cluster_id,
                   CAST(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END
                        AS BIGINT) AS is_survivor,
                   n_chars
            FROM labels
        """,
        "dedup_cluster_stats": "WITH RECURSIVE " + f"""
            {_JACCARD_EDGES_BODY},
            bi AS (
              SELECT a_id AS u, b_id AS v FROM edges
              UNION SELECT b_id, a_id FROM edges
            ),
            walk(u, v) AS (
              SELECT u, v FROM bi
              UNION
              SELECT w.u, e.v FROM walk w JOIN bi e ON w.v = e.u
            ),
            mins AS (SELECT u, min(v) AS m FROM walk GROUP BY u),
            labels AS (
              SELECT d.doc_id,
                     COALESCE(least(d.doc_id, r.m), d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN mins r ON r.u = d.doc_id
            ),
            csizes AS (
              SELECT cluster_id, count(*) AS cluster_size
              FROM labels GROUP BY cluster_id
            )
            SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(sum(cluster_size) AS BIGINT) AS n_docs
            FROM csizes GROUP BY cluster_size
        """,
        "exact_dup_star_edges": """
            WITH allrows AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 60000000 AS doc_id, text
              FROM documents WHERE doc_id < 25
            ),
            norm AS (SELECT doc_id, lower(text) AS t FROM allrows),
            g AS (
              SELECT t, min(doc_id) AS a_id
              FROM norm GROUP BY t HAVING count(*) > 1
            )
            SELECT g.a_id, n.doc_id AS b_id, 'exact' AS source
            FROM g JOIN norm n ON n.t = g.t AND n.doc_id <> g.a_id
        """,
        "audio_analysis_suite": """
            WITH base AS (
              SELECT CAST(doc_id AS BIGINT) AS clip_id,
                     list_transform(range(0, 64),
                       i -> ((doc_id * 31 + i * 7) % 97) / 97.0) AS env
              FROM documents WHERE doc_id < 60
            ),
            twins AS (
              SELECT clip_id + 70000000 AS clip_id,
                     list_transform(env, x -> x + 0.001) AS env
              FROM base WHERE clip_id < 40
            ),
            clips AS (
              SELECT * FROM base UNION ALL SELECT * FROM twins
            ),
            cand AS (
              SELECT clip_id AS a_id, clip_id + 70000000 AS b_id
              FROM base WHERE clip_id < 40
              UNION ALL
              SELECT clip_id AS a_id, clip_id + 1 AS b_id
              FROM base WHERE clip_id < 20
            ),
            j AS (
              SELECT c.a_id, c.b_id, a.env AS ea, b.env AS eb
              FROM cand c
              JOIN clips a ON a.clip_id = c.a_id
              JOIN clips b ON b.clip_id = c.b_id
            ),
            m AS (
              SELECT a_id, b_id,
                     sqrt(list_sum(list_transform(range(0, 64),
                          i -> (ea[i + 1] - eb[i + 1])
                               * (ea[i + 1] - eb[i + 1]))) / 64)
                     / (sqrt(list_sum(list_transform(ea, x -> x * x)) / 64)
                        + 1e-9) AS rel
              FROM j
            ),
            runs AS (
              -- gaps-and-islands over per-frame activity, rebuilt from
              -- the synth formula directly (no list needed): frame i of
              -- clip c is active iff ((c*31 + i*7) % 97)/97.0 >= 0.2
              SELECT clip_id, i,
                     CASE WHEN ((clip_id * 31 + i * 7) % 97) / 97.0 >= 0.2
                          THEN 1 ELSE 0 END AS a
              FROM base, (SELECT unnest(range(0, 64)) AS i)
            ),
            isl AS (
              SELECT clip_id, i, a,
                     sum(CASE WHEN a = 1 AND coalesce(pa, 0) = 0
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY clip_id ORDER BY i
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS seg_id
              FROM (
                SELECT clip_id, i, a,
                       lag(a) OVER (PARTITION BY clip_id ORDER BY i) AS pa
                FROM runs
              )
            ),
            seglen AS (
              SELECT clip_id, seg_id, count(*) AS run_len
              FROM isl WHERE a = 1 GROUP BY clip_id, seg_id
            ),
            segstats AS (
              SELECT b.clip_id,
                     CAST(coalesce(count(sl.seg_id), 0) AS BIGINT)
                       AS n_segments,
                     CAST(coalesce(max(sl.run_len), 0) AS DOUBLE)
                       AS longest_run,
                     round(CAST(coalesce(sum(sl.run_len), 0) AS DOUBLE)
                           / 64, 6) AS active_frac
              FROM base b LEFT JOIN seglen sl USING (clip_id)
              GROUP BY b.clip_id
            )
            SELECT 'verify' AS section,
                   CAST(a_id AS VARCHAR) AS k1,
                   CAST(b_id AS VARCHAR) AS k2,
                   CAST(NULL AS BIGINT) AS cnt,
                   round(rel, 6) AS m1,
                   CAST(NULL AS DOUBLE) AS m2
            FROM m WHERE rel <= 0.1
            UNION ALL
            SELECT 'segments' AS section,
                   CAST(clip_id AS VARCHAR) AS k1,
                   CAST(NULL AS VARCHAR) AS k2,
                   n_segments AS cnt,
                   longest_run AS m1,
                   active_frac AS m2
            FROM segstats
        """,
        # wide entry: BPE pre-tokenization counts + PII masking over ONE
        # shared planted set (contractions/digits/punct + all 3 masking
        # branches on the same rows)
        "text_analysis_wide": """
            WITH allrows AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 20000000 AS doc_id,
                     'It''s 42 degrees... mail bob.smith+x@example.co.uk '
                     || 'or https://ex.org/a?id=99 card 4111222233334444 '
                     || text AS text
              FROM documents WHERE doc_id < 10
              UNION ALL
              SELECT doc_id + 30000000 AS doc_id,
                     'The quick, brown fox!!! It is ' || text AS text
              FROM documents WHERE doc_id < 10
            ),
            tstat AS (
              SELECT doc_id,
                     CAST(len(text) AS BIGINT) AS n_chars,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       AS n_distinct_tokens,
                     round(len(list_distinct(string_split(text, ' '))) * 1.0
                           / len(string_split(text, ' ')), 6)
                       AS type_token_ratio
              FROM allrows
            ),
            t AS (
              SELECT doc_id, text, len(text) AS nc,
                     len(string_split(text, ' ')) AS nt,
                     len(list_distinct(string_split(text, ' '))) AS nd,
                     len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                       AS np,
                     len(list_filter(string_split(text, ' '),
                         x -> lower(x) IN ('the','and','of','is','to','a',
                                           'in','it','that'))) AS ns
              FROM allrows
            ),
            qs AS (
              SELECT doc_id,
                     round(nd * 1.0 / nt, 6) AS ttr,
                     round((nc - nt + 1) * 1.0 / nt, 6) AS mean_token_len,
                     round(np * 1.0 / greatest(nc, 1), 6) AS punct_ratio,
                     round(ns * 1.0 / nt, 6) AS stopword_ratio,
                     CAST(CASE WHEN nc >= 20 AND nc <= 10000
                               AND nd * 1.0 / nt >= 0.2
                          THEN 1 ELSE 0 END AS INT) AS quality_pass
              FROM t
            ),
            lt AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM allrows
            ), ls AS (
              SELECT doc_id,
                CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','to'))) AS BIGINT) AS score_en,
                CAST(len(list_filter(toks, x -> x IN ('el','la','los','que','de'))) AS BIGINT) AS score_es,
                CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS score_de,
                CAST(len(list_filter(toks, x -> x IN ('le','les','des','est','une'))) AS BIGINT) AS score_fr
              FROM lt
            ),
            toks AS (
              SELECT doc_id,
                     regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +',
                       0) AS ts
              FROM allrows
            ),
            bpe AS (
              SELECT doc_id,
                     CAST(len(ts) AS BIGINT) AS n_bpe_pieces,
                     CAST(len(list_filter(ts,
                          x -> regexp_matches(x, '^ ?[A-Za-z]+$')))
                       AS BIGINT) AS n_alpha_pieces,
                     CAST(len(list_filter(ts,
                          x -> regexp_matches(x, '^ ?[0-9]+$')))
                       AS BIGINT) AS n_digit_pieces
              FROM toks
            ),
            s1 AS (
              SELECT doc_id, text,
                     CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', 0))
                       AS BIGINT) AS n_email,
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
              FROM allrows
            ),
            s2 AS (
              SELECT doc_id, n_email,
                     CAST(len(regexp_extract_all(t1, 'https?://[^ ]+', 0))
                       AS BIGINT) AS n_url,
                     regexp_replace(t1, 'https?://[^ ]+', '<URL>', 'g') AS t2
              FROM s1
            ),
            s3 AS (
              SELECT doc_id, n_email, n_url,
                     CAST(len(regexp_extract_all(t2, '[0-9]{7,}', 0))
                       AS BIGINT) AS n_longnum,
                     regexp_replace(t2, '[0-9]{7,}', '<NUM>', 'g')
                       AS masked_text
              FROM s2
            ),
            u0 AS (
              SELECT doc_id,
                     'HTTPS://Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
                     || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
                     || '/Docs/' || CAST(doc_id AS VARCHAR)
                     || CASE WHEN doc_id % 2 = 0
                             THEN '?utm_source=feed&b=2&a=1'
                             ELSE '?a=1' END
                     || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END
                       AS url
              FROM allrows
            ),
            u1 AS (SELECT doc_id, split_part(url, '#', 1) AS nf FROM u0),
            u2 AS (
              SELECT doc_id, nf,
                     coalesce(regexp_extract(nf,
                       '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1), '')
                       AS prefix
              FROM u1
            ),
            u3 AS (
              -- backref-free default-port strip (DuckDB's replacement
              -- escapes differ from Java's $1): the suffix can only be
              -- the port in an authority string
              SELECT doc_id,
                     CASE WHEN lower(prefix) LIKE 'http://%'
                               AND lower(prefix) LIKE '%:80'
                          THEN substr(lower(prefix), 1,
                                      length(prefix) - 3)
                          WHEN lower(prefix) LIKE 'https://%'
                               AND lower(prefix) LIKE '%:443'
                          THEN substr(lower(prefix), 1,
                                      length(prefix) - 4)
                          ELSE lower(prefix) END AS pfx,
                     substr(nf, length(prefix) + 1) AS rest
              FROM u2
            ),
            u4 AS (
              SELECT doc_id, pfx,
                     split_part(rest, '?', 1) AS path,
                     CASE WHEN strpos(rest, '?') > 0
                          THEN substr(rest, strpos(rest, '?') + 1)
                          ELSE '' END AS qs
              FROM u3
            ),
            u5 AS (
              SELECT doc_id, pfx, path,
                     array_to_string(list_sort(list_filter(
                       string_split(qs, '&'),
                       p -> len(p) > 0 AND NOT regexp_matches(p,
                              '^(utm_[a-z]+|gclid|fbclid)='))), '&') AS cq
              FROM u4
            ),
            urls AS (
              SELECT doc_id,
                     pfx || path || CASE WHEN len(cq) > 0
                                         THEN '?' || cq ELSE '' END
                       AS url_norm,
                     md5(pfx || path || CASE WHEN len(cq) > 0
                                             THEN '?' || cq ELSE '' END)
                       AS url_key
              FROM u5
            )
            SELECT tstat.doc_id, tstat.n_chars, tstat.n_tokens,
                   tstat.n_distinct_tokens, tstat.type_token_ratio,
                   qs.ttr, qs.mean_token_len, qs.punct_ratio,
                   qs.stopword_ratio, qs.quality_pass,
                   ls.score_en, ls.score_es, ls.score_de, ls.score_fr,
                   CASE WHEN greatest(score_en, score_es, score_de, score_fr) <= 0 THEN 'und'
                        WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
                        WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
                        WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
                        ELSE 'fr' END AS pred_lang,
                   bpe.n_bpe_pieces, bpe.n_alpha_pieces,
                   bpe.n_digit_pieces, s3.n_email, s3.n_url, s3.n_longnum,
                   s3.masked_text,
                   urls.url_norm, urls.url_key
            FROM tstat JOIN qs USING (doc_id) JOIN ls USING (doc_id)
                 JOIN bpe USING (doc_id) JOIN s3 USING (doc_id)
                 JOIN urls USING (doc_id)
        """,
        # independent relational formulation (unnest + GROUP BY) of the
        # Spark side's within-row array-fold computation
        "repetition_stats": """
            WITH allrows AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 50000000 AS doc_id,
                     'loop loop loop loop loop loop ' || text AS text
              FROM documents WHERE doc_id < 10
            ),
            t AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM allrows
            ),
            uni AS (
              SELECT doc_id, sum(c) AS n1, max(c) AS top1 FROM (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                GROUP BY doc_id, tok
              ) GROUP BY doc_id
            ),
            g2 AS (
              SELECT doc_id, sum(c) AS n2, max(c) AS top2,
                     count(*) AS nd2 FROM (
                SELECT doc_id, gram, count(*) AS c FROM (
                  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
                  FROM t, unnest(range(1, len(toks))) AS r(i)
                ) GROUP BY doc_id, gram
              ) GROUP BY doc_id
            ),
            g3 AS (
              SELECT doc_id, sum(c) AS n3,
                     count(*) FILTER (WHERE c = 1) AS singles3 FROM (
                SELECT doc_id, gram, count(*) AS c FROM (
                  SELECT doc_id,
                         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           AS gram
                  FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
                ) GROUP BY doc_id, gram
              ) GROUP BY doc_id
            ),
            m AS (
              SELECT t.doc_id,
                     CAST(uni.n1 AS BIGINT) AS n_tokens,
                     round(uni.top1 * 1.0 / greatest(uni.n1, 1), 6)
                       AS top_unigram_frac,
                     round(coalesce(g2.top2 * 1.0 / g2.n2, 0.0), 6)
                       AS top_2gram_frac,
                     round(coalesce(1.0 - g2.nd2 * 1.0 / g2.n2, 0.0), 6)
                       AS excess_2gram_frac,
                     round(coalesce((g3.n3 - g3.singles3) * 1.0 / g3.n3,
                                    0.0), 6) AS dup_3gram_frac
              FROM t
              LEFT JOIN uni USING (doc_id)
              LEFT JOIN g2 USING (doc_id)
              LEFT JOIN g3 USING (doc_id)
            )
            SELECT *,
                   CAST(CASE WHEN top_unigram_frac <= 0.30
                              AND top_2gram_frac <= 0.20
                              AND dup_3gram_frac <= 0.50
                        THEN 1 ELSE 0 END AS INT) AS repetition_pass
            FROM m
        """,
        # widened r6: exact n-gram tier + fuzzy MinHash-LSH tier in one
        # doc-grain result.  The fuzzy CTEs rebuild the DENSE band keys
        # from the bit-identical signatures (same machinery as the
        # minhash_lsh_pairs oracle) and verify candidates with exact
        # trigram Jaccard at JACCARD_PCT, mirroring
        # operators/corpus.py:decontaminate_fuzzy relationally.
        "decontamination_suite": f"""
            WITH t AS (
              SELECT doc_id, source, string_split(text, ' ') AS toks
              FROM documents
            ),
            tg AS (
              SELECT doc_id, source,
                     list_distinct(list_transform(
                       range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     )) AS tgrams
              FROM t
            ),
            dg AS (SELECT doc_id, unnest(tgrams) AS gram FROM tg),
            bg AS (
              SELECT DISTINCT unnest(tgrams) AS gram FROM tg
              WHERE source = 'src0'
            ),
            hits AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              FROM dg JOIN bg USING (gram) GROUP BY doc_id
            ),
            {_GRAMS},
            sigs AS (
              SELECT doc_id,
              {band_keys}
              FROM grams GROUP BY doc_id
            ),
            bands AS (
              {band_union}
            ),
            bbands AS (
              SELECT b.doc_id AS bench_id, b.band, b.key
              FROM bands b JOIN documents d ON d.doc_id = b.doc_id
              WHERE d.source = 'src0'
            ),
            cand AS (
              SELECT DISTINCT a.doc_id, bb.bench_id
              FROM bands a
              JOIN bbands bb ON a.band = bb.band AND a.key = bb.key
                            AND a.doc_id <> bb.bench_id
            ),
            finter AS (
              SELECT c.doc_id, c.bench_id, count(*) AS i
              FROM cand c
              JOIN grams ga ON ga.doc_id = c.doc_id
              JOIN grams gb ON gb.doc_id = c.bench_id AND gb.g = ga.g
              GROUP BY 1, 2
            ),
            fpairs AS (
              SELECT f.doc_id
              FROM finter f
              JOIN sizes sa ON sa.doc_id = f.doc_id
              JOIN sizes sb ON sb.doc_id = f.bench_id
              WHERE 100 * f.i >= {JACCARD_PCT} * (sa.n + sb.n - f.i)
            ),
            fh AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS fuzzy_hits
              FROM fpairs GROUP BY doc_id
            ),
            ev AS (
              SELECT e.vec_id AS bench_id,
                     list_transform(e.embedding,
                                    x -> CAST(x AS DOUBLE) + 0.02) AS bvec
              FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
              WHERE d.source = 'src0'
            ),
            cv AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings
            ),
            enums AS (SELECT unnest(range(1, 65)) AS i),
            eterms AS (
              SELECT c.vec_id, b.bench_id, c.v[n.i] AS x, b.bvec[n.i] AS y
              FROM cv c, ev b, enums n WHERE n.i <= len(c.v)
            ),
            edots AS (
              SELECT vec_id, bench_id,
                     round(CASE WHEN sqrt(sum(x * x)) * sqrt(sum(y * y)) > 0
                                THEN sum(x * y)
                                     / (sqrt(sum(x * x)) * sqrt(sum(y * y)))
                                ELSE 0.0 END, 4) AS cos
              FROM eterms GROUP BY vec_id, bench_id
            ),
            ehits AS (
              SELECT vec_id, CAST(count(*) AS BIGINT) AS emb_hits,
                     max(cos) AS emb_max_cos
              FROM edots WHERE cos >= 0.95 GROUP BY vec_id
            )
            SELECT d.doc_id,
                   coalesce(hits.n, 0) AS n_gram_hits,
                   CAST(CASE WHEN coalesce(hits.n, 0) > 0 THEN 1 ELSE 0
                        END AS INT) AS contaminated,
                   coalesce(fh.fuzzy_hits, 0) AS fuzzy_hits,
                   CAST(CASE WHEN coalesce(fh.fuzzy_hits, 0) > 0 THEN 1
                        ELSE 0 END AS INT) AS fuzzy_contaminated,
                   coalesce(eh.emb_hits, 0) AS emb_hits,
                   eh.emb_max_cos AS emb_max_cos,
                   CAST(CASE WHEN coalesce(eh.emb_hits, 0) > 0 THEN 1
                        ELSE 0 END AS INT) AS emb_contaminated
            FROM documents d
            LEFT JOIN hits USING (doc_id)
            LEFT JOIN fh USING (doc_id)
            LEFT JOIN ehits eh ON eh.vec_id = d.doc_id
        """,
        "corpus_splits_sampling": """
            WITH fr AS (
              SELECT doc_id, lang, source,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                          1, 12)) AS BIGINT)
                       / 281474976710656.0 AS f
              FROM documents
            ),
            ranks AS (
              SELECT doc_id,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ) AS r
              FROM documents
            )
            SELECT fr.doc_id, fr.lang, fr.source,
                   CASE WHEN f < 0.8 THEN 'train'
                        WHEN f < 0.9 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(CASE WHEN r <= 3 THEN r ELSE 0 END AS INT)
                     AS sample_rank
            FROM fr JOIN ranks USING (doc_id)
        """,
        # DSIR selection (operators/corpus.py:dsir_select): per-OCCURRENCE
        # unnest + GROUP BY for both the bucket distributions and the
        # per-doc decimal(38,18) log-weight sum — decimal addition is
        # order-free, so the sum agrees exactly with Spark's despite the
        # engines' different aggregation orders.  Gumbel noise from the
        # md5-fraction of '0:doc_id'.
        "dsir_selection": """
            WITH tk AS (
              SELECT doc_id, lang,
                     list_filter(string_split(text, ' '),
                                 t -> len(t) > 0) AS toks
              FROM documents
            ),
            ft AS (
              SELECT doc_id, lang,
                     list_concat(
                       toks,
                       list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i + 1])
                     ) AS feats
              FROM tk
            ),
            occ AS (
              SELECT doc_id, lang,
                     list_reduce(
                       list_transform(range(1, len(t) + 1),
                         i -> CAST(ascii(substr(t, i, 1)) AS BIGINT)),
                       (acc, c) -> (acc * 31 + c) % 1000000007
                     ) % 256 AS b
              FROM (SELECT doc_id, lang, unnest(feats) AS t FROM ft)
            ),
            cnts AS (
              SELECT b, count(*) AS raw_cnt,
                     sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS tgt_cnt
              FROM occ GROUP BY b
            ),
            tot AS (
              SELECT sum(raw_cnt) AS raw_tot, sum(tgt_cnt) AS tgt_tot
              FROM cnts
            ),
            lw AS (
              SELECT b,
                     ln((tgt_cnt + 1.0) / (tgt_tot + 256.0))
                     - ln((raw_cnt + 1.0) / (raw_tot + 256.0)) AS lw
              FROM cnts, tot
            ),
            dw AS (
              SELECT occ.doc_id,
                     sum(CAST(lw.lw AS DECIMAL(38,18))) AS logw_dec
              FROM occ JOIN lw USING (b) GROUP BY occ.doc_id
            ),
            sc AS (
              SELECT d.doc_id,
                     d.lang = 'en' AS is_target,
                     CAST(COALESCE(dw.logw_dec, 0) AS DOUBLE) AS logw_raw,
                     -ln(-ln(
                       CAST(('0x' || substr(
                           md5('0:' || CAST(d.doc_id AS VARCHAR)), 1, 12))
                         AS BIGINT) / 281474976710656.0)) AS g
              FROM documents d LEFT JOIN dw USING (doc_id)
            )
            SELECT doc_id, is_target,
                   round(logw_raw, 6) AS logw,
                   round(logw_raw + g, 6) AS sample_key
            FROM sc
            ORDER BY sample_key DESC, doc_id
            LIMIT 100
        """,
        # TF-IDF + Okapi BM25 top-20s for the same query (widened r6).
        # BM25 constants mirror the Spark expression's Python-folded
        # doubles exactly: k1+1 = 2.2, 1-b = 0.25, b = 0.75.
        "query_ranking_suite": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents
            ),
            tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM tok
              WHERE tok IN ('dup', 'spark', 'window')
              GROUP BY doc_id, tok
            ),
            dfc AS (
              SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
            ),
            dl AS (
              SELECT doc_id,
                     len(list_filter(string_split(text, ' '),
                                     s -> len(s) > 0)) AS dl
              FROM documents
            ),
            st AS (
              SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM dl
            ),
            tfidf_s AS (
              SELECT 'tfidf' AS section, doc_id,
                     round(CAST(sum(CAST(tf * (ln((n_docs + 1.0)
                                                  / (df + 1.0)) + 1.0)
                                         AS DECIMAL(38,18))) AS DOUBLE),
                           6) AS score
              FROM tf JOIN dfc USING (tok), st
              GROUP BY doc_id
              ORDER BY score DESC, doc_id
              LIMIT 20
            ),
            bm25_s AS (
              SELECT 'bm25' AS section, tf.doc_id,
                     round(CAST(sum(CAST(
                         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                         * (tf * 2.2)
                         / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                                        / (CAST(dl_sum AS DOUBLE)
                                           / n_docs)))
                       AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
              FROM tf JOIN dfc USING (tok) JOIN dl USING (doc_id), st
              GROUP BY tf.doc_id
              ORDER BY score DESC, doc_id
              LIMIT 20
            )
            SELECT * FROM tfidf_s UNION ALL SELECT * FROM bm25_s
        """,
        # independent relational formulation: pseudo-lines come from
        # unnest WITH ORDINALITY + integer division (not the Spark-side
        # transform/slice), dup marking from window functions
        "line_dedup_stats": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents
            ),
            lines AS (
              SELECT doc_id, CAST(i AS INT) AS line_idx,
                     trim(array_to_string(
                       list_slice(toks, i * 8 + 1, i * 8 + 8), ' '
                     )) AS line
              FROM t, unnest(range(0, (len(toks) + 7) // 8)) AS r(i)
            ),
            keyed AS (
              SELECT doc_id, line_idx, line
              FROM lines WHERE length(line) >= 1
            ),
            marked AS (
              -- same 60-bit md5-prefix key the operator shuffles on
              SELECT doc_id, line_idx, line,
                     count(*) OVER (PARTITION BY
                       CAST(('0x' || substr(md5(line), 1, 15)) AS BIGINT)
                     ) AS n_occ,
                     row_number() OVER (
                       PARTITION BY
                         CAST(('0x' || substr(md5(line), 1, 15)) AS BIGINT)
                       ORDER BY doc_id, line_idx
                     ) AS rn
              FROM keyed
            ),
            ld AS (
              SELECT doc_id,
                     count(*) AS n_lines,
                     CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_dup_lines,
                     CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS kept_lines,
                     round(CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)
                                AS DOUBLE) / count(*), 6) AS dup_line_frac,
                     md5(coalesce(
                         string_agg(CASE WHEN rn = 1 THEN line END,
                                    chr(10) ORDER BY line_idx),
                         '')) AS kept_fp
              FROM marked GROUP BY doc_id
            ),
            -- Lee et al. substring windows over the RAW text: L=32,
            -- content-defined 1-in-4 sampling (wkey % 4 = 0)
            rs0 AS (
              SELECT doc_id, text, len(text) AS n_chars,
                     CASE WHEN len(text) >= 32
                          THEN len(text) - 32 + 1
                          ELSE 0 END AS n_pos
              FROM documents
            ),
            rsk AS (
              SELECT doc_id, pos, wkey FROM (
                SELECT doc_id,
                       1 + CAST(i AS INT) AS pos,
                       CAST(('0x' || substr(md5(
                         substr(text, 1 + CAST(i AS INT), 32)
                       ), 1, 15)) AS BIGINT) AS wkey
                FROM rs0, unnest(range(0, n_pos)) AS r(i)
              ) WHERE wkey % 4 = 0
            ),
            rsd AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY wkey) AS n
                FROM rsk
              ) WHERE n > 1
            ),
            rsc AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_dup_windows,
                     CAST(sum(CASE WHEN nxt IS NULL THEN 32
                              ELSE least(32, nxt - pos) END)
                          AS BIGINT) AS dup_span_chars
              FROM (
                SELECT doc_id, pos,
                       lead(pos) OVER (PARTITION BY doc_id
                                       ORDER BY pos) AS nxt
                FROM rsd
              ) GROUP BY doc_id
            )
            SELECT ld.doc_id, ld.n_lines, ld.n_dup_lines, ld.kept_lines,
                   ld.dup_line_frac, ld.kept_fp,
                   CAST(rs0.n_pos AS BIGINT) AS n_windows,
                   coalesce(rsc.n_dup_windows, 0) AS n_dup_windows,
                   coalesce(rsc.dup_span_chars, 0) AS dup_span_chars,
                   round(coalesce(rsc.dup_span_chars, 0)
                         / greatest(CAST(rs0.n_chars AS BIGINT), 1),
                         6) AS dup_span_frac
            FROM ld
            JOIN rs0 USING (doc_id)
            LEFT JOIN rsc USING (doc_id)
        """,
        "chunk_documents": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ),
            c AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) <= 32 THEN 1
                          ELSE (len(toks) - 32 + 23) // 24 + 1
                     END AS k
              FROM t
            ),
            ch AS (
              SELECT doc_id,
                     CAST(i AS INT) AS chunk_id,
                     CAST(i * 24 AS BIGINT) AS start_token,
                     CAST(len(list_slice(toks, i * 24 + 1, i * 24 + 32))
                       AS BIGINT) AS n_chunk_tokens,
                     array_to_string(
                       list_slice(toks, i * 24 + 1, i * 24 + 32), ' '
                     ) AS chunk_text
              FROM c, unnest(range(0, k)) AS r(i)
            )
            SELECT ch.doc_id, ch.chunk_id, ch.start_token,
                   ch.n_chunk_tokens, ch.chunk_text, d.source,
                   CAST(floor(COALESCE(SUM(ch.n_chunk_tokens) OVER (
                       PARTITION BY d.source
                       ORDER BY md5(CAST(ch.doc_id AS VARCHAR)),
                                ch.doc_id, ch.chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) / 128) AS BIGINT) AS bin_id
            FROM ch JOIN documents d USING (doc_id)
        """,
        "dedup_pair_eval": f"""
            WITH allrows AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 60000000, text FROM documents
              WHERE doc_id < 50
              UNION ALL
              SELECT doc_id + 61000000, text || ' qzxjvwblt'
              FROM documents WHERE doc_id >= 50 AND doc_id < 150
            ),
            nums AS (
              SELECT unnest(range(1,
                (SELECT max(len(text)) + 1 FROM allrows))) AS i
            ),
            grams AS (
              SELECT DISTINCT d.doc_id,
                     ascii(substr(d.text, n.i, 1))
                     + 256 * ascii(substr(d.text, n.i + 1, 1))
                     + 65536 * ascii(substr(d.text, n.i + 2, 1)) AS g
              FROM allrows d JOIN nums n ON n.i <= len(d.text) - 2
              WHERE substr(d.text, n.i, 3) NOT LIKE '% %'
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
              FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            pred AS (
              SELECT i.a_id, i.b_id
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.a_id
              JOIN sizes sb ON sb.doc_id = i.b_id
              WHERE 100 * i.c >= {JACCARD_PCT} * (sa.n + sb.n - i.c)
            ),
            truth AS (
              SELECT doc_id AS a_id, doc_id + 60000000 AS b_id
              FROM documents WHERE doc_id < 50
              UNION ALL
              SELECT doc_id, doc_id + 61000000
              FROM documents WHERE doc_id >= 50 AND doc_id < 150
            ),
            j AS (
              SELECT CASE WHEN p.a_id IS NULL THEN 0 ELSE 1 END AS in_pred,
                     CASE WHEN t.a_id IS NULL THEN 0 ELSE 1 END AS in_truth
              FROM pred p
              FULL JOIN truth t ON p.a_id = t.a_id AND p.b_id = t.b_id
            )
            SELECT CAST(sum(in_pred) AS BIGINT) AS n_pred,
                   CAST(sum(in_truth) AS BIGINT) AS n_truth,
                   CAST(sum(in_pred * in_truth) AS BIGINT) AS n_hit,
                   round(sum(in_pred * in_truth) * 1.0
                         / greatest(sum(in_pred), 1), 6) AS prec,
                   round(sum(in_pred * in_truth) * 1.0
                         / greatest(sum(in_truth), 1), 6) AS recall,
                   round(2.0 * sum(in_pred * in_truth)
                         / greatest(sum(in_pred) + sum(in_truth), 1), 6)
                     AS f1
            FROM j
        """,
        "events_windowed_stats": """
            SELECT time_bucket(INTERVAL '1 minute', ts) AS win_start,
                   time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute'
                     AS win_end,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6)
                     AS sum_value
            FROM events
            GROUP BY 1, 2, 3
        """,
        "vocab_top_tokens": """
            WITH toks AS (
              SELECT source, tok AS token, count(*) AS n FROM (
                SELECT source, unnest(string_split(text, ' ')) AS tok
                FROM documents
              ) WHERE len(tok) > 0
              GROUP BY source, tok
            )
            SELECT source, token, CAST(n AS BIGINT) AS n,
                   CAST(rank AS INT) AS rank
            FROM (
              SELECT source, token, n,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n DESC, token ASC) AS rank
              FROM toks
            ) WHERE rank <= 5
        """,
        # widened r6: + interpolated bigram LM (lam=0.8; the 1-lam
        # literal is the Python-folded double 0.19999999999999996, so
        # both engines evaluate the identical IEEE expression).  Bigram
        # positions come from position-joined consecutive tokens — an
        # independent formulation of the Spark side's within-row pairs.
        "lm_logprob_stats": """
            WITH ft AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '),
                                 s -> len(s) > 0) AS toks
              FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     toks[CAST(i AS INT) + 1] AS token,
                     CAST(i AS INT) + 1 AS i
              FROM ft, unnest(range(0, len(toks))) AS r(i)
            ),
            freq AS (SELECT token, count(*) AS tf FROM toks GROUP BY token),
            totals AS (
              SELECT count(*) AS n_total, count(DISTINCT token) AS n_vocab
              FROM toks
            ),
            uni AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_tokens,
                     round(CAST(sum(CAST(-ln((tf + 1) * 1.0
                                             / (n_total + n_vocab))
                                         AS DECIMAL(38,18))) AS DOUBLE)
                           / count(*), 6) AS mean_neg_logprob
              FROM toks JOIN freq USING (token), totals
              GROUP BY doc_id
            ),
            bg AS (
              SELECT a.doc_id, a.token AS w1, b.token AS w2
              FROM toks a JOIN toks b
                ON b.doc_id = a.doc_id AND b.i = a.i + 1
            ),
            bfreq AS (
              SELECT w1, w2, count(*) AS bf FROM bg GROUP BY w1, w2
            ),
            bi AS (
              SELECT bg.doc_id,
                     CAST(count(*) AS BIGINT) AS n_bigrams,
                     round(CAST(sum(CAST(-ln(
                         0.8 * (CAST(bf AS DOUBLE) / CAST(c1.tf AS DOUBLE))
                         + 0.19999999999999996
                           * ((c2.tf + 1) * 1.0 / (n_total + n_vocab))
                       ) AS DECIMAL(38,18))) AS DOUBLE)
                           / count(*), 6) AS mean_neg_logprob_bi
              FROM bg
              JOIN bfreq USING (w1, w2)
              JOIN freq c1 ON c1.token = bg.w1
              JOIN freq c2 ON c2.token = bg.w2, totals
              GROUP BY bg.doc_id
            )
            SELECT uni.doc_id, uni.n_tokens, uni.mean_neg_logprob,
                   coalesce(bi.n_bigrams, 0) AS n_bigrams,
                   bi.mean_neg_logprob_bi
            FROM uni LEFT JOIN bi USING (doc_id)
        """,
        # UniMax waterfill (closed form): saturation rule
        # cap_i*(L-i+1)+prefix_{i-1} <= budget over capacity-sorted
        # groups; the water level is the lone float, computed with the
        # same int->double expression as the Spark side.
        "unimax_lang_alloc": """
            WITH per AS (
              SELECT lang AS grp,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len(list_filter(string_split(text, ' '),
                                              s -> len(s) > 0)))
                          AS BIGINT) AS n_tokens
              FROM documents GROUP BY lang
            ),
            caps AS (
              SELECT grp, n_docs, n_tokens,
                     n_tokens * 2 AS cap_tokens
              FROM per
            ),
            tot AS (
              SELECT sum(n_tokens) // 2 AS budget,
                     count(*) AS L
              FROM caps
            ),
            ranked AS (
              SELECT grp, n_docs, n_tokens, cap_tokens,
                     row_number() OVER (ORDER BY cap_tokens, grp) AS i,
                     coalesce(sum(cap_tokens) OVER (
                       ORDER BY cap_tokens, grp
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS prefix
              FROM caps
            ),
            sat AS (
              SELECT r.*,
                     CASE WHEN cap_tokens * (L - i + 1) + prefix <= budget
                          THEN 1 ELSE 0 END AS saturated
              FROM ranked r, tot
            ),
            lev AS (
              SELECT sat.*,
                     sum(saturated) OVER () AS n_sat,
                     coalesce(sum(CASE WHEN saturated = 1
                                       THEN cap_tokens END) OVER (), 0)
                       AS sat_sum
              FROM sat
            ),
            raw AS (
              SELECT lev.grp, lev.n_docs, lev.n_tokens, lev.cap_tokens,
                     CASE WHEN saturated = 1
                          THEN CAST(cap_tokens AS DOUBLE)
                          ELSE (budget - sat_sum) * 1.0 / (L - n_sat)
                     END AS alloc
              FROM lev, tot
            )
            SELECT grp AS lang, n_docs, n_tokens, cap_tokens,
                   round(alloc, 6) AS alloc_tokens,
                   round(CASE WHEN n_tokens > 0 THEN alloc / n_tokens
                         ELSE 0.0 END, 6) AS sample_rate
            FROM raw
        """,
        # greedy per-language budget fill: rank by TTR desc (ties
        # md5(id), id), running token cumsum, keep the <=1000-token
        # ranked prefix — mirrors operators/corpus.py:budget_fill
        "token_budget_fill": """
            WITH scored AS (
              SELECT doc_id, lang,
                     CAST(len(list_filter(string_split(text, ' '),
                                          s -> len(s) > 0))
                          AS BIGINT) AS n_tokens,
                     round(len(list_distinct(string_split(text, ' ')))
                           * 1.0 / len(string_split(text, ' ')), 6)
                       AS score
              FROM documents
            ),
            ranked AS (
              SELECT doc_id, lang, n_tokens, score,
                     CAST(row_number() OVER w AS BIGINT) AS rank,
                     sum(n_tokens) OVER (
                       PARTITION BY lang
                       ORDER BY score DESC,
                                md5(CAST(doc_id AS VARCHAR)), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum_tokens
              FROM scored
              WINDOW w AS (PARTITION BY lang
                           ORDER BY score DESC,
                                    md5(CAST(doc_id AS VARCHAR)), doc_id)
            )
            SELECT doc_id, lang, n_tokens, score, rank, cum_tokens,
                   CAST(CASE WHEN cum_tokens <= 1000 THEN 1 ELSE 0 END
                        AS INT) AS selected
            FROM ranked
        """,
        "events_session_windows": """
            WITH m AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM m
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 6 HOUR AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE),
                         6) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        "doc_length_quantiles": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   round(quantile_cont(len(text), 0.25), 6) AS p25,
                   round(quantile_cont(len(text), 0.50), 6) AS p50,
                   round(quantile_cont(len(text), 0.75), 6) AS p75,
                   round(quantile_cont(len(text), 0.90), 6) AS p90,
                   round(quantile_cont(len(text), 0.99), 6) AS p99
            FROM documents GROUP BY lang
        """,
        "events_asof_rate": """
            WITH ev AS (
              SELECT event_id, user_id, ts, round(value, 4) AS value
              FROM events
            ),
            dim AS (
              SELECT user_id, ts, value AS rate FROM (
                SELECT user_id, ts, value,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id) AS rn
                FROM ev WHERE event_id % 97 = 0
              ) WHERE rn = 1
            )
            SELECT e.event_id, e.user_id, e.ts, d.rate
            FROM ev e
            ASOF LEFT JOIN dim d
              ON e.user_id = d.user_id AND e.ts >= d.ts
        """,
        "events_range_join": """
            WITH ev AS (SELECT event_id, user_id, ts FROM events),
            dim AS (
              SELECT user_id, ts AS start_ts,
                     ts + INTERVAL 10 MINUTE AS end_ts,
                     event_id AS interval_id
              FROM ev WHERE event_id % 97 = 0
            )
            SELECT e.event_id, e.user_id, e.ts, d.interval_id
            FROM ev e
            JOIN dim d
              ON e.user_id = d.user_id
             AND e.ts >= d.start_ts AND e.ts < d.end_ts
        """,
        "corpus_curation_pipeline": """
            WITH allrows AS (
              SELECT doc_id, lang, source, text FROM documents
              UNION ALL
              SELECT doc_id + 70000000, lang, source, text
              FROM documents WHERE doc_id < 20
              UNION ALL
              SELECT doc_id + 71000000, lang, source,
                     repeat('loop ', 30) || text
              FROM documents WHERE doc_id < 10
            ),
            t AS (
              SELECT doc_id, lang, source, text,
                     string_split(text, ' ') AS toks
              FROM allrows
            ),
            uni AS (
              SELECT doc_id, sum(c) AS n1, max(c) AS top1 FROM (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                GROUP BY doc_id, tok
              ) GROUP BY doc_id
            ),
            g2 AS (
              SELECT doc_id, sum(c) AS n2, max(c) AS top2 FROM (
                SELECT doc_id, gram, count(*) AS c FROM (
                  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
                  FROM t, unnest(range(1, len(toks))) AS r(i)
                ) GROUP BY doc_id, gram
              ) GROUP BY doc_id
            ),
            g3 AS (
              SELECT doc_id, sum(c) AS n3,
                     count(*) FILTER (WHERE c = 1) AS singles3 FROM (
                SELECT doc_id, gram, count(*) AS c FROM (
                  SELECT doc_id,
                         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           AS gram
                  FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
                ) GROUP BY doc_id, gram
              ) GROUP BY doc_id
            ),
            rep_ok AS (
              SELECT t.doc_id FROM t
              LEFT JOIN uni USING (doc_id)
              LEFT JOIN g2 USING (doc_id)
              LEFT JOIN g3 USING (doc_id)
              WHERE round(uni.top1 * 1.0 / greatest(uni.n1, 1), 6) <= 0.30
                AND round(coalesce(g2.top2 * 1.0 / g2.n2, 0.0), 6) <= 0.20
                AND round(coalesce((g3.n3 - g3.singles3) * 1.0 / g3.n3,
                                   0.0), 6) <= 0.50
            ),
            grams4 AS (
              SELECT doc_id, source,
                     list_distinct(list_transform(
                       range(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' '
                            || toks[i+2] || ' ' || toks[i+3]
                     )) AS grams
              FROM t
            ),
            bg AS (
              SELECT DISTINCT unnest(grams) AS gram FROM grams4
              WHERE source = 'src0'
            ),
            clean AS (
              SELECT g.doc_id FROM grams4 g
              WHERE NOT EXISTS (
                SELECT 1 FROM unnest(g.grams) AS u(gram)
                JOIN bg USING (gram)
              )
            ),
            gated AS (
              SELECT t.doc_id, t.lang, t.source, md5(t.text) AS k
              FROM t
              JOIN rep_ok USING (doc_id)
              JOIN clean USING (doc_id)
            ),
            survivors AS (
              SELECT * FROM gated
              WHERE doc_id = (SELECT min(doc_id) FROM gated g2
                              WHERE g2.k = gated.k)
            )
            SELECT doc_id, lang, source,
                   CAST(sample_rank AS INT) AS sample_rank
            FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ) AS sample_rank
              FROM survivors
            ) WHERE sample_rank <= 3
        """,
        "hash_vector_entries": f"""
            WITH allrows AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 80000000,
                     'café naïve 東京 žluťoučký ' || text
              FROM documents WHERE doc_id < 5
            ),
            {_TVEC_CTE.replace("FROM documents", "FROM allrows")}
            SELECT vec_id AS doc_id,
                   CAST(d AS INT) AS dim,
                   CAST(embedding[d + 1] AS BIGINT) AS cnt
            FROM tvec, unnest(range(0, 64)) AS r(d)
            WHERE embedding[d + 1] > 0
        """,
        "text_kmeans_clusters": f"""
            WITH {_TVEC_CTE},
            {_kmeans_ctes("tvec")}
            SELECT vec_id, CAST(cluster AS INT) AS cluster, cos FROM a1
        """,
        "cluster_agreement_ari": f"""
            WITH {_kmeans_ctes("embeddings")},
            cells AS (
              SELECT a0.cell AS ca, a1.cluster AS cb, count(*) AS nij
              FROM a0 JOIN a1 USING (vec_id) GROUP BY 1, 2
            ),
            stats AS (
              SELECT sum(nij) AS n_items,
                     sum(nij * (nij - 1) / 2.0) AS s
              FROM cells
            ),
            sa AS (
              SELECT sum(ai * (ai - 1) / 2.0) AS sa FROM (
                SELECT sum(nij) AS ai FROM cells GROUP BY ca
              )
            ),
            sb AS (
              SELECT sum(bj * (bj - 1) / 2.0) AS sb FROM (
                SELECT sum(nij) AS bj FROM cells GROUP BY cb
              )
            )
            SELECT CAST(n_items AS BIGINT) AS n_items,
                   CAST(s AS BIGINT) AS agree_both,
                   -- degenerate-case conventions pinned to match the
                   -- operator: n<2 -> 1.0; zero ARI denominator -> 1.0
                   CASE WHEN n_items < 2 THEN 1.0
                        ELSE round((n_items * (n_items - 1) / 2.0 + 2 * s
                                    - sa - sb)
                                   / (n_items * (n_items - 1) / 2.0), 6)
                   END AS rand_index,
                   CASE WHEN n_items < 2 THEN 1.0
                        WHEN (sa + sb) / 2
                             - sa * sb / (n_items * (n_items - 1) / 2.0) = 0
                          THEN 1.0
                        ELSE round(
                          (s - sa * sb / (n_items * (n_items - 1) / 2.0))
                          / ((sa + sb) / 2
                             - sa * sb / (n_items * (n_items - 1) / 2.0)),
                          6)
                   END AS adjusted_rand
            FROM stats, sa, sb
        """,
        "suffix_run_pairs": f"""
            WITH {_NUMS},
            subs AS (
              SELECT DISTINCT d.doc_id, substr(d.text, n.i, 32) AS s
              FROM documents d JOIN nums n ON n.i <= len(d.text) - 31
            )
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                   'suffix' AS source
            FROM subs a JOIN subs b ON a.s = b.s AND a.doc_id < b.doc_id
        """,
        "fuzzy_token_join": """
            WITH toks AS (
              SELECT DISTINCT t.token
              FROM documents d,
                   unnest(string_split(d.text, ' ')) AS t(token)
              WHERE len(t.token) > 0
            )
            SELECT a.token AS a_token, b.token AS b_token,
                   CAST(levenshtein(a.token, b.token) AS BIGINT) AS dist
            FROM toks a JOIN toks b ON a.token < b.token
            WHERE levenshtein(a.token, b.token) <= 2
        """,
        "topk_levenshtein_plan": """
            WITH toks AS (
              SELECT DISTINCT t.token
              FROM documents d,
                   unnest(string_split(d.text, ' ')) AS t(token)
              WHERE len(t.token) > 0
            ),
            scored AS (
              SELECT token,
                     CAST(levenshtein(token, 'straem') AS BIGINT) AS dist,
                     round(1.0 - CAST(levenshtein(token, 'straem') AS DOUBLE)
                           / greatest(len(token), 6), 6) AS score
              FROM toks
            )
            SELECT token, dist, score FROM scored
            WHERE score >= 0.3
            ORDER BY score DESC, token ASC
            LIMIT 10
        """,
        "fingerprint_bands": """
            WITH fps AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp
              FROM documents
            ), bands AS (SELECT unnest(range(0, 4)) AS band)
            SELECT doc_id, CAST(band AS INT) AS band,
                   CAST((fp >> (band * 15)) & 32767 AS BIGINT) AS key,
                   fp
            FROM fps, bands
        """,
        # wide entry: token_stats + quality_score + lang_id over ONE
        # shared planted set (punctuation, stopwords, uppercase) — same
        # coverage as the former three entries in a single slot
        "ann_topk_suite": """
            SELECT 'brute' AS section, vec_id, cos FROM (
                WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
                nums AS (SELECT unnest(range(1, 65)) AS i),
                terms AS (
                  SELECT e.vec_id,
                         CAST(e.embedding[n.i] AS DOUBLE) AS a,
                         CAST(q.qv[n.i] AS DOUBLE) AS b
                  FROM embeddings e, q, nums n
                  WHERE n.i <= len(e.embedding)
                ),
                dots AS (
                  SELECT vec_id, sum(a * b) AS dot,
                         sqrt(sum(a * a)) AS na, sqrt(sum(b * b)) AS nb
                  FROM terms GROUP BY vec_id
                )
                SELECT vec_id,
                       round(CASE WHEN na * nb > 0 THEN dot / (na * nb)
                                  ELSE 0.0 END, 5) AS cos
                FROM dots
                ORDER BY cos DESC, vec_id ASC
                LIMIT 10
            )
            UNION ALL
            SELECT 'ivf' AS section, vec_id, cos FROM (
                WITH nums AS (SELECT unnest(range(1, 65)) AS i),
                cents AS (
                  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 8
                ),
                pairs AS (
                  SELECT e.vec_id, c.cid,
                         sum(CAST(e.embedding[n.i] AS DOUBLE)
                             * CAST(c.embedding[n.i] AS DOUBLE)) AS dot,
                         sqrt(sum(CAST(e.embedding[n.i] AS DOUBLE)
                                  * CAST(e.embedding[n.i] AS DOUBLE))) AS ne,
                         sqrt(sum(CAST(c.embedding[n.i] AS DOUBLE)
                                  * CAST(c.embedding[n.i] AS DOUBLE))) AS nc
                  FROM embeddings e, cents c, nums n
                  WHERE n.i <= len(e.embedding)
                  GROUP BY e.vec_id, c.cid
                ),
                scored AS (
                  SELECT vec_id, cid,
                         round(CASE WHEN ne * nc > 0 THEN dot / (ne * nc)
                                    ELSE 0.0 END, 6) AS cos
                  FROM pairs
                ),
                assign AS (
                  SELECT vec_id, cid AS cell FROM (
                    SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY cos DESC, cid ASC) AS rn
                    FROM scored
                  ) WHERE rn = 1
                ),
                probes AS (
                  SELECT cid FROM (
                    SELECT cid, row_number() OVER (ORDER BY cos DESC, cid ASC) AS rn
                    FROM scored WHERE vec_id = 0
                  ) WHERE rn <= 2
                ),
                cand AS (
                  SELECT a.vec_id FROM assign a JOIN probes p ON a.cell = p.cid
                ),
                q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
                terms AS (
                  SELECT e.vec_id,
                         CAST(e.embedding[n.i] AS DOUBLE) AS a,
                         CAST(q.qv[n.i] AS DOUBLE) AS b
                  FROM embeddings e JOIN cand USING (vec_id), q, nums n
                  WHERE n.i <= len(e.embedding)
                ),
                dots AS (
                  SELECT vec_id, sum(a * b) AS dot,
                         sqrt(sum(a * a)) AS na, sqrt(sum(b * b)) AS nb
                  FROM terms GROUP BY vec_id
                )
                SELECT vec_id,
                       round(CASE WHEN na * nb > 0 THEN dot / (na * nb)
                                  ELSE 0.0 END, 5) AS cos
                FROM dots
                ORDER BY cos DESC, vec_id ASC
                LIMIT 10
            )
            UNION ALL
            SELECT 'pq' AS section, vec_id, cos FROM (
                WITH nums AS (SELECT unnest(range(1, 65)) AS i),
                cw AS (  -- codeword elements: sub-vectors of the first 16 rows
                  SELECT e.vec_id AS code,
                         ((n.i - 1) // 8) AS s, ((n.i - 1) % 8) AS j,
                         CAST(e.embedding[n.i] AS DOUBLE) AS v
                  FROM embeddings e, nums n
                  WHERE e.vec_id < 16 AND n.i <= len(e.embedding)
                ),
                ev AS (
                  SELECT e.vec_id,
                         ((n.i - 1) // 8) AS s, ((n.i - 1) % 8) AS j,
                         CAST(e.embedding[n.i] AS DOUBLE) AS v
                  FROM embeddings e, nums n
                  WHERE n.i <= len(e.embedding)
                ),
                dist AS (  -- 6-dp squared L2 per (vector, subspace, code)
                  SELECT ev.vec_id, ev.s, cw.code,
                         round(sum((ev.v - cw.v) * (ev.v - cw.v)), 6) AS d
                  FROM ev JOIN cw ON ev.s = cw.s AND ev.j = cw.j
                  GROUP BY ev.vec_id, ev.s, cw.code
                ),
                codes AS (  -- argmin, ties to the lower code id
                  SELECT vec_id, s, code FROM (
                    SELECT vec_id, s, code,
                           row_number() OVER (PARTITION BY vec_id, s
                                              ORDER BY d ASC, code ASC) AS rn
                    FROM dist
                  ) WHERE rn = 1
                ),
                q AS (
                  SELECT ((n.i - 1) // 8) AS s, ((n.i - 1) % 8) AS j,
                         CAST(e.embedding[n.i] AS DOUBLE) AS v
                  FROM embeddings e, nums n
                  WHERE e.vec_id = 0 AND n.i <= len(e.embedding)
                ),
                lut AS (  -- the two ADC lookup tables, 6-dp like the engine
                  SELECT cw.s, cw.code,
                         round(sum(q.v * cw.v), 6) AS dot,
                         round(sum(cw.v * cw.v), 6) AS nsq
                  FROM cw JOIN q ON cw.s = q.s AND cw.j = q.j
                  GROUP BY cw.s, cw.code
                ),
                qn AS (SELECT sqrt(sum(v * v)) AS qn FROM q),
                agg AS (
                  SELECT c.vec_id, sum(l.dot) AS adc, sum(l.nsq) AS rsq
                  FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
                  GROUP BY c.vec_id
                )
                SELECT a.vec_id,
                       round(CASE WHEN a.rsq > 0 AND qn.qn > 0
                                  THEN a.adc / (qn.qn * sqrt(a.rsq))
                                  ELSE 0.0 END, 5) AS cos
                FROM agg a, qn
                ORDER BY cos DESC, vec_id ASC
                LIMIT 10
            )
        """,
        "relational_agg_suite": """
            SELECT 'tpch_q1' AS section,
                   l_returnflag AS k1, l_linestatus AS k2,
                   CAST(count(*) AS BIGINT) AS cnt,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 4) AS m1,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 4) AS m2,
                   round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(38,6))
                         * (CAST(1 AS DECIMAL(38,6)) - CAST(l_discount AS DECIMAL(38,6)))
                         AS DECIMAL(38,6))) AS DOUBLE), 4) AS m3
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            UNION ALL
            SELECT 'dim_join' AS section,
                   r_name AS k1, CAST(NULL AS VARCHAR) AS k2,
                   CAST(count(*) AS BIGINT) AS cnt,
                   round(CAST(sum(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE), 4) AS m1,
                   CAST(NULL AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
            UNION ALL
            SELECT 'tpch_q3' AS section,
                   CAST(o_orderkey AS VARCHAR) AS k1,
                   CAST(NULL AS VARCHAR) AS k2,
                   CAST(NULL AS BIGINT) AS cnt,
                   revenue AS m1,
                   CAST(NULL AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3
            FROM (
              SELECT o_orderkey,
                     round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(38,6))
                           * (CAST(1 AS DECIMAL(38,6)) - CAST(l_discount AS DECIMAL(38,6)))
                           AS DECIMAL(38,6))) AS DOUBLE), 4) AS revenue
              FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              WHERE c_mktsegment = 'BUILDING'
              GROUP BY o_orderkey
              ORDER BY revenue DESC, o_orderkey ASC
              LIMIT 20
            )
        """,
        "window_topk_suite": """
            SELECT 'part_brand' AS section, p_brand AS k1,
                   CAST(p_partkey AS BIGINT) AS id,
                   CAST(p_retailprice AS DOUBLE) AS val,
                   CAST(rn AS BIGINT) AS rn
            FROM (
              SELECT p_brand, p_partkey, p_retailprice,
                     row_number() OVER (PARTITION BY p_brand
                                        ORDER BY p_retailprice DESC,
                                                 p_partkey ASC) AS rn
              FROM part
            ) WHERE rn <= 2
            UNION ALL
            SELECT 'event_user' AS section, CAST(user_id AS VARCHAR) AS k1,
                   CAST(event_id AS BIGINT) AS id,
                   CAST(value AS DOUBLE) AS val,
                   CAST(rn AS BIGINT) AS rn
            FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC,
                                                 event_id ASC) AS rn
              FROM events
            ) WHERE rn <= 3
        """,
        "events_user_profile": """
            WITH g AS (
              SELECT user_id, event_id, value, event_type,
                     epoch(ts) - lag(epoch(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
              FROM events
            )
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
                     AS sum_value,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_session_breaks
            FROM g GROUP BY user_id
        """,
        "cosine_dup_pairs": """
            WITH allv AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS embedding
              FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.02)
                       AS embedding
              FROM embeddings WHERE vec_id < 50
            ),
            nums AS (SELECT unnest(range(1, 65)) AS i),
            terms AS (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     a.embedding[n.i] AS x,
                     b.embedding[n.i] AS y
              FROM allv a, allv b, nums n
              WHERE a.vec_id < b.vec_id AND n.i <= len(a.embedding)
            ),
            dots AS (
              SELECT a_id, b_id, sum(x * y) AS dot,
                     sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
              FROM terms GROUP BY a_id, b_id
            )
            SELECT a_id, b_id,
                   round(CASE WHEN na * nb > 0 THEN dot / (na * nb)
                              ELSE 0.0 END, 4) AS cos
            FROM dots
            WHERE round(CASE WHEN na * nb > 0 THEN dot / (na * nb)
                             ELSE 0.0 END, 4) >= 0.9
        """,
        "ivf_semantic_dup_pairs": """
            WITH allv AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS embedding
              FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.02)
                       AS embedding
              FROM embeddings WHERE vec_id < 50
            ),
            nums AS (SELECT unnest(range(1, 65)) AS i),
            cents AS (
              SELECT vec_id AS cid, embedding FROM allv WHERE vec_id < 8
            ),
            cpairs AS (
              SELECT e.vec_id, c.cid,
                     sum(e.embedding[n.i] * c.embedding[n.i]) AS dot,
                     sqrt(sum(e.embedding[n.i] * e.embedding[n.i])) AS ne,
                     sqrt(sum(c.embedding[n.i] * c.embedding[n.i])) AS nc
              FROM allv e, cents c, nums n
              WHERE n.i <= len(e.embedding)
              GROUP BY e.vec_id, c.cid
            ),
            cscored AS (
              SELECT vec_id, cid, round(dot / (ne * nc), 6) AS cos
              FROM cpairs
            ),
            assign AS (
              SELECT vec_id, cid AS cell FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos DESC, cid ASC) AS rn
                FROM cscored
              ) WHERE rn = 1
            ),
            terms AS (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     av.embedding[n.i] AS x, bv.embedding[n.i] AS y
              FROM assign a
              JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
              JOIN allv av ON av.vec_id = a.vec_id
              JOIN allv bv ON bv.vec_id = b.vec_id, nums n
              WHERE n.i <= len(av.embedding)
            ),
            dots AS (
              SELECT a_id, b_id, sum(x * y) AS dot,
                     sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
              FROM terms GROUP BY a_id, b_id
            )
            SELECT a_id, b_id,
                   round(CASE WHEN na * nb > 0 THEN dot / (na * nb)
                              ELSE 0.0 END, 4) AS cos
            FROM dots
            WHERE round(CASE WHEN na * nb > 0 THEN dot / (na * nb)
                             ELSE 0.0 END, 4) >= 0.9
        """,
    }
