#!/usr/bin/env python
"""spark-submit entrypoint for the corpus-curation pass (the stage that
runs BEFORE dedup in a training-data pipeline): Gopher repetition gate ->
n-gram benchmark decontamination -> exact-dup fold -> optional
per-stratum cap -> partitioned parquet sink.

Example:
    scripts/package.sh
    spark-submit --master 'local[8]' \
        --py-files dist/fuzzymatch_spark.zip \
        jobs/curate_job.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --benchmark-source src0 \
        --id-col doc_id --text-col text \
        --partition-by lang \
        --output /tmp/curated_run1

The sink writes ``partitionBy(<cols>)`` so downstream per-language reads
prune partitions at the source, and drops a ``_CURATED`` completion
marker last (same commit-marker discipline as the dedup pipeline's
checkpoints) so a consumer never reads a half-written corpus.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession, functions as F


def curate(
    df,
    id_col: str,
    text_col: str,
    benchmark_df,
    ngram_n: int = 4,
    strata_cols: list[str] | None = None,
    per_stratum_cap: int | None = None,
    drop_benchmark_ids: bool = False,
    fuzzy_decon: bool = False,
    budget_tokens: int | None = None,
    embeddings_df=None,
    bench_embeddings_df=None,
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
    emb_min_cosine: float = 0.95,
):
    """The composed curation DataFrame (shared by the job and tests).

    ``drop_benchmark_ids`` anti-joins the benchmark's ids out of the
    result — required when the benchmark is a subset of ``df`` itself
    (benchmark-source mode): n-gram self-contamination alone misses
    benchmark docs shorter than ``ngram_n`` tokens, which have no grams.

    ``fuzzy_decon`` adds the MinHash-LSH near-dup decontamination tier
    (``decontaminate_fuzzy``) next to the exact n-gram gate — catches
    lightly-paraphrased eval leaks the exact tier misses; both tiers
    broadcast the benchmark side, so the corpus still never shuffles in
    decontamination.

    ``budget_tokens`` (requires ``strata_cols``) appends a greedy
    per-stratum token-budget selection (``budget_fill``, TTR-scored)
    AFTER dedup and capping — the final "fill the training mix" stage.

    ``embeddings_df`` + ``bench_embeddings_df`` (given together) add the
    SEMANTIC decontamination tier: corpus rows whose embedding (keyed by
    ``emb_id_col`` = the doc id) is within ``emb_min_cosine`` of any
    benchmark embedding are dropped — paraphrased eval leaks that both
    the exact n-gram and fuzzy-shingle tiers miss.  Runs the GEMM
    screen of ``decontaminate_embeddings``: one matmul per Arrow batch,
    no joins, corpus never shuffles.
    """
    if (per_stratum_cap is None) != (not strata_cols):
        raise ValueError(
            "per_stratum_cap and strata_cols must be given together "
            "(a cap without strata, or strata without a cap, would "
            "silently skip the capping stage)"
        )
    if per_stratum_cap is not None and per_stratum_cap < 1:
        raise ValueError("per_stratum_cap must be >= 1")
    if budget_tokens is not None and not strata_cols:
        raise ValueError(
            "budget_tokens requires strata_cols (the budget is "
            "per-stratum; a global budget would be a global sort)"
        )
    if (embeddings_df is None) != (bench_embeddings_df is None):
        raise ValueError(
            "embeddings_df and bench_embeddings_df must be given "
            "together (a corpus side without a benchmark side, or vice "
            "versa, would silently skip the semantic tier)"
        )
    from fuzzymatch_spark.operators.corpus import (
        budget_fill,
        decontaminate_fuzzy,
        decontaminate_ngrams,
        repetition_stats,
        stratified_sample,
    )

    rep = repetition_stats(df, id_col, text_col).select(
        F.col("doc_id").alias(id_col), "repetition_pass"
    )
    dec = decontaminate_ngrams(
        df, benchmark_df, id_col, text_col, n=ngram_n
    ).select(F.col("doc_id").alias(id_col), "contaminated")
    gated = (
        df.join(rep, id_col)
        .join(dec, id_col)
        .filter((F.col("repetition_pass") == 1) & (F.col("contaminated") == 0))
        .drop("repetition_pass", "contaminated")
    )
    if fuzzy_decon:
        # run the (signature-UDF-heavy) fuzzy tier over the survivors of
        # the cheap gates, not the full input — identical result through
        # the inner join, at a fraction of the UDF cost
        fz = decontaminate_fuzzy(
            gated, benchmark_df, id_col, text_col
        ).select(F.col("doc_id").alias(id_col), "fuzzy_contaminated")
        gated = (
            gated.join(fz, id_col)
            .filter(F.col("fuzzy_contaminated") == 0)
            .drop("fuzzy_contaminated")
        )
    if embeddings_df is not None:
        # semantic tier on the survivors of the cheap gates; dirty ids
        # are bounded by contamination volume, so the cut is an
        # ids-only broadcast anti-join (the decon-stage convention)
        from fuzzymatch_spark.operators.ann import decontaminate_embeddings

        emb_dirty = (
            decontaminate_embeddings(
                embeddings_df,
                bench_embeddings_df,
                vec_col=emb_vec_col,
                min_cosine=emb_min_cosine,
            )
            .filter(F.col("contaminated") == 1)
            .select(F.col(emb_id_col).alias(id_col))
        )
        gated = gated.join(F.broadcast(emb_dirty), id_col, "left_anti")
    if drop_benchmark_ids:
        gated = gated.join(
            benchmark_df.select(id_col), id_col, "left_anti"
        )
    keyed = gated.withColumn("_k", F.md5(F.col(text_col).cast("binary")))
    minid = keyed.groupBy("_k").agg(F.min(id_col).alias(id_col))
    survivors = keyed.join(minid, ["_k", id_col]).drop("_k")
    if per_stratum_cap is not None and strata_cols:
        capped_ids = stratified_sample(
            survivors, strata_cols, id_col, per_stratum_cap
        ).select(F.col("doc_id").alias(id_col))
        survivors = survivors.join(capped_ids, id_col)
    if budget_tokens is not None and strata_cols:
        toks = F.split(F.col(text_col), " ")
        scored = survivors.withColumn(
            "_ttr",
            F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6),
        )
        kept = (
            budget_fill(
                scored, id_col, text_col, "_ttr",
                budget_tokens=budget_tokens, part_cols=list(strata_cols),
            )
            .filter(F.col("selected") == 1)
            .select(F.col("doc_id").alias(id_col))
        )
        survivors = survivors.join(kept, id_col)
    return survivors


def write_curated(spark, df, output: str, partition_cols: list[str]) -> None:
    """Partitioned parquet sink + a ``_CURATED`` marker written LAST via
    the Hadoop FS API (portable to HDFS/S3, like the pipeline's commit
    markers) — readers treat a marker-less directory as in-flight."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(output)
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(output, "_CURATED")
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.create(path, True).close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--benchmark", default=None,
                    help="parquet path of the eval/benchmark docs")
    ap.add_argument("--benchmark-source", default=None,
                    help="alternatively: source value inside --input to "
                         "treat as the benchmark (its docs are dropped)")
    ap.add_argument("--ngram-n", type=int, default=4)
    ap.add_argument("--partition-by", default=None,
                    help="comma-separated partition columns for the sink")
    ap.add_argument("--strata", default=None,
                    help="comma-separated strata columns for the cap")
    ap.add_argument("--cap", type=int, default=None,
                    help="max docs kept per stratum")
    ap.add_argument("--fuzzy-decontaminate", action="store_true",
                    help="add the MinHash-LSH near-dup decontamination "
                         "tier next to the exact n-gram gate")
    ap.add_argument("--budget-tokens", type=int, default=None,
                    help="per-stratum token budget: keep the TTR-ranked "
                         "prefix that fits (requires --strata)")
    ap.add_argument("--embeddings", default=None,
                    help="parquet path of corpus embeddings "
                         "(<emb-id-col>, embedding) keyed by the doc id: "
                         "adds the semantic decontamination tier "
                         "(GEMM screen vs the benchmark embeddings)")
    ap.add_argument("--bench-embeddings", default=None,
                    help="parquet path of benchmark embeddings "
                         "(bench_id, embedding); defaults to the corpus "
                         "embeddings of the benchmark ids in "
                         "--benchmark-source mode")
    ap.add_argument("--emb-id-col", default="vec_id")
    ap.add_argument("--emb-vec-col", default="embedding")
    ap.add_argument("--emb-min-cosine", type=float, default=0.95)
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("fuzzymatch-curate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    df = spark.read.parquet(args.input)
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
    elif args.benchmark_source:
        bench = df.filter(F.col("source") == args.benchmark_source)
    else:
        raise SystemExit("need --benchmark or --benchmark-source")

    emb = bench_emb = None
    if args.embeddings:
        emb = spark.read.parquet(args.embeddings)
        if args.bench_embeddings:
            bench_emb = spark.read.parquet(args.bench_embeddings)
        elif args.benchmark_source:
            # benchmark rows live inside --input: their embeddings are
            # the corpus embeddings at the benchmark ids
            bench_emb = emb.join(
                bench.select(
                    F.col(args.id_col).alias(args.emb_id_col)
                ),
                args.emb_id_col,
            ).select(
                F.col(args.emb_id_col).alias("bench_id"), args.emb_vec_col
            )
        else:
            raise SystemExit(
                "--embeddings needs --bench-embeddings "
                "(or --benchmark-source to derive them)"
            )

    out = curate(
        df, args.id_col, args.text_col, bench,
        ngram_n=args.ngram_n,
        strata_cols=args.strata.split(",") if args.strata else None,
        per_stratum_cap=args.cap,
        # benchmark-source mode: the benchmark rows live inside --input;
        # drop them by id too, since sub-ngram_n benchmark docs have no
        # grams and would pass the self-contamination gate
        drop_benchmark_ids=bool(args.benchmark_source),
        fuzzy_decon=args.fuzzy_decontaminate,
        budget_tokens=args.budget_tokens,
        embeddings_df=emb,
        bench_embeddings_df=bench_emb,
        emb_id_col=args.emb_id_col,
        emb_vec_col=args.emb_vec_col,
        emb_min_cosine=args.emb_min_cosine,
    )
    parts = args.partition_by.split(",") if args.partition_by else []
    write_curated(spark, out, args.output, parts)
    n = spark.read.parquet(args.output).count()
    print(f"curated corpus written: {n} docs -> {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
