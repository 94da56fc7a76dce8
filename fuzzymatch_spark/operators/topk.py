"""Query-vs-corpus fuzzy matching: the reference's flagship API, distributed.

``top_matches`` re-expresses `FuzzyMatcher.topMatches`
(`Sources/FuzzyMatch/FuzzyMatcher+Convenience.swift:65-95`) as a Spark plan:

    scan -> cheap column prefilters (pushed ahead of any Python) -> score UDF
         -> filter(score >= minScore) -> global top-k (TakeOrderedAndProject)

The reference's prefilter cascade is kept *structurally* ahead of the UDF —
Catalyst cannot reorder around a Python stage, so we encode the cheap->
expensive ordering ourselves (`Sources/FuzzyMatch/Prefilters.swift:20-27`):

* length bounds  -> ``length(col) >= minCandidateLength``  (`Prefilters.swift:448-454`)
* char bitmask   -> ``bit_count(qmask & ~char_mask) <= tol`` (`Prefilters.swift:496-503`),
  a JVM-side ``bit_count`` on a precomputed signature column when available.

At 100 TB the signature table is computed once and reused across queries
(the reference amortizes `prepare()` the same way).  A query then runs a
columnar scan, the pruned UDF and a TakeOrderedAndProject (no full sort,
no single-node collect).

Jobs per query follow the input's size.  An input narrower than the cores
is spread by a round-robin exchange, which costs a job of its own: 2 jobs.
A narrow input whose plan estimates under ``SMALL_INPUT_BYTES`` (8 KiB),
or an input already as wide as the cores, runs in 1 job (see
``plans/parallelism.py`` for the measured floor).  perfbench
``fuzzy_search`` (4 vCPUs, traced) pairs both: its ED query over the
caption vocabulary runs in 1 job, its SW query over 600 captions in 2.
On a small corpus the per-query cost is the Python worker's per-task
cost, the exchange's job and the kernel.  Traced perfbench per query:
``topk.execute_s`` 0.46 s with Spark's stock worker daemon, which re-read
its own archives in every task; 0.31-0.40 s under the daemon ``get_spark``
sets (see ``session.py``); 0.20 s once the ED query skips its exchange and
the SW kernel sweeps along the query (``kernels/batch_scoring.py``;
``kernels.score_sw_us`` 675-705 -> 87).  Construction is ~0.07 s: one
``select``, ``filter`` and ``selectExpr`` per query, sort keys as SQL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from fuzzymatch_spark.config import MatchConfig
from fuzzymatch_spark.functions.udfs import make_score_udf
from fuzzymatch_spark.kernels.scoring import prepare_query
from fuzzymatch_spark.plans.parallelism import (
    SMALL_INPUT_BYTES,
    ensure_min_partitions,
)


def _quote(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _signed64(x: int) -> int:
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def prefilter_columns(
    df: DataFrame, text_col: str, query, mask_col: str | None = None
) -> DataFrame:
    """Apply the reference's O(1) prefilters as pushdown-friendly predicates."""
    out = df
    if query.min_candidate_length > 0:
        # byte-length bound; octet_length matches the reference's UTF-8 math
        out = out.filter(
            F.octet_length(F.col(text_col)) >= F.lit(query.min_candidate_length)
        )
    if mask_col is not None:
        qmask = F.lit(_signed64(query.bitmask))
        missing = qmask.bitwiseAND(F.bitwise_not(F.col(mask_col)))
        out = out.filter(
            F.bit_count(missing) <= F.lit(query.bitmask_tolerance)
        )
    return out


def score_candidates(
    df: DataFrame,
    text_col: str,
    query_text: str,
    config: MatchConfig | None = None,
    mask_col: str | None = None,
) -> DataFrame:
    """All candidates with score >= minScore (reference ``matches``,
    `FuzzyMatcher+Convenience.swift:116-131`)."""
    config = config or MatchConfig()
    q = prepare_query(query_text, config)
    filtered = prefilter_columns(df, text_col, q, mask_col=mask_col)
    # the score UDF is CPU-bound: never let an under-partitioned input
    # (single-row-group parquet) serialize it onto one core, unless it is
    # too small to pay for the exchange's extra job
    filtered = ensure_min_partitions(filtered, floor_bytes=SMALL_INPUT_BYTES)
    # asNondeterministic blocks Catalyst from pushing the isNotNull filter
    # (and a duplicate UDF evaluation) below the repartition exchange
    score_udf = make_score_udf(q).asNondeterministic()
    # one select, filter and selectExpr (a py4j round trip each, plus one
    # per listed column) in withColumn's shape: an input ``score``/``kind``
    # is replaced in place, an input ``_m`` dropped, new columns go last
    cols = filtered.columns
    if "_m" in cols:
        filtered = filtered.drop("_m")
        cols = [c for c in cols if c != "_m"]
    lifted = {"score": "_m.score AS score", "kind": "_m.kind AS kind"}
    out = [lifted.get(c.lower(), _quote(c)) for c in cols]
    lower = {c.lower() for c in cols}
    out += [e for c, e in lifted.items() if c not in lower]
    return (
        filtered.select("*", score_udf(F.col(text_col)).alias("_m"))
        .filter("_m.score IS NOT NULL")
        .selectExpr(*out)
    )


def top_matches(
    df: DataFrame,
    text_col: str,
    query_text: str,
    k: int = 10,
    config: MatchConfig | None = None,
    mask_col: str | None = None,
) -> DataFrame:
    """Global top-k by score desc; deterministic tie-break by candidate
    LENGTH asc, then candidate asc.

    The reference's sort is score-only with unordered ties
    (`FuzzyMatcher+Convenience.swift:82-87`), so the tie order is ours to
    define: shortest-first is the fzf/nucleo match-density convention and
    ranks an exact match above a longer candidate that also normalizes to
    the same score (e.g. the query itself vs a superstring of it, both
    1.0 under Smith-Waterman's query-self-alignment cap); the final
    candidate-asc leg makes the whole order reproducible (SURVEY.md §2.7).
    """
    scored = score_candidates(df, text_col, query_text, config, mask_col=mask_col)
    t = _quote(text_col)
    return scored.orderBy(
        F.expr("score").desc(), F.expr(f"length({t})"), F.expr(t)
    ).limit(k)


def top_matches_levenshtein(
    df: DataFrame,
    text_col: str,
    query_text: str,
    k: int = 10,
    min_score: float = 0.5,
) -> DataFrame:
    """Restricted, cross-engine-checkable configuration of the flagship
    top-k plan: the SAME structural cascade as ``top_matches`` (JVM length
    prefilter -> repartition guard -> Arrow-batched distance kernel ->
    threshold filter -> global top-k with deterministic tie-break), but with
    plain-Levenshtein scoring ``score = 1 - lev/max(|q|,|c|)`` — the form
    DuckDB reproduces bit-identically, so the driver hash-checks the whole
    plan end-to-end (the full reference cascade stays golden-fixture-pinned;
    reference semantics: `FuzzyMatcher+Convenience.swift:65-95`).

    The length prefilter is DERIVED, not semantic: score >= s forces
    ``|c| >= ceil(s * |q|)`` (a shorter candidate needs >= |q|-|c| edits), so
    pruning below that bound cannot change the result set and the oracle SQL
    needs no prefilter clause.
    """
    import math
    from types import SimpleNamespace

    from pyspark.sql.types import IntegerType

    q_bytes = query_text.encode("utf-8")
    qlen = len(q_bytes)
    shim = SimpleNamespace(
        min_candidate_length=math.ceil(min_score * qlen), bitmask=0,
        bitmask_tolerance=0,
    )
    filtered = prefilter_columns(df, text_col, shim, mask_col=None)
    filtered = ensure_min_partitions(filtered, floor_bytes=SMALL_INPUT_BYTES)

    s = float(min_score)

    @F.pandas_udf(IntegerType())
    def lev(c: pd.Series) -> pd.Series:
        from fuzzymatch_spark.kernels.editdist import batch_levenshtein

        raws = [(t or "").encode("utf-8") for t in c]
        if not raws:
            return pd.Series([], dtype="int32")
        # batch budget: every row's own admissible distance
        # (1-s)*max(|q|,|c_r|) is <= this cap, so capped rows are true
        # rejects for their own bound too
        cap = int((1.0 - s) * max(qlen, max(len(r) for r in raws)))
        return pd.Series(batch_levenshtein([q_bytes] * len(raws), raws, cap))

    scored = filtered.withColumn(
        "dist", lev.asNondeterministic()(F.col(text_col))
    )
    score = F.round(
        F.lit(1.0)
        - F.col("dist").cast("double")
        / F.greatest(F.octet_length(text_col), F.lit(qlen)).cast("double"),
        6,
    )
    return (
        scored.withColumn("score", score)
        .filter(F.col("score") >= F.lit(s))
        .select(text_col, F.col("dist").cast("long").alias("dist"), "score")
        .orderBy(F.desc("score"), F.asc(text_col))
        .limit(k)
    )


def top_matches_bulk(
    df: DataFrame,
    text_col: str,
    queries: list[str],
    k: int = 10,
    config: MatchConfig | None = None,
) -> DataFrame:
    """Score a whole query workload in ONE corpus pass.

    The reference's benchmark loop (197 queries x 272K candidates,
    `Benchmarks/.../CorpusBenchmark.swift:94-116`) re-scans the corpus per
    query; here the prepared queries ride inside the UDF closure (broadcast
    by Spark's task serialization), each Arrow batch is scored against all
    of them with the per-query prefilter cascade applied row-locally, and a
    window top-k per query finishes the job.  One scan, one shuffle.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    config = config or MatchConfig()
    prepared = [prepare_query(qt, config) for qt in queries]

    out_t = ArrayType(
        StructType(
            [
                StructField("qi", IntegerType()),
                StructField("score", DoubleType()),
                StructField("kind", StringType()),
            ]
        )
    )

    @F.pandas_udf(out_t)
    def bulk_score(texts: pd.Series) -> pd.Series:
        import numpy as np

        from fuzzymatch_spark.kernels.batch_scoring import (
            BatchCandidates,
            batch_score_pairs,
        )

        # padded matrices / trigram codes are query-independent: build once
        # per Arrow batch, score the whole workload against them
        raws = [(t or "").encode("utf-8") for t in texts]
        cands = BatchCandidates(raws)
        rows: list[list] = [[] for _ in raws]
        for qi, q in enumerate(prepared):
            scores, kinds = batch_score_pairs(cands, q)
            for k in np.nonzero(~np.isnan(scores))[0]:
                rows[k].append(
                    {"qi": qi, "score": float(scores[k]), "kind": kinds[k]}
                )
        return pd.Series(rows)

    df = ensure_min_partitions(df)

    qdf = df.sparkSession.createDataFrame(
        list(enumerate(queries)), "qi int, query string"
    )
    exploded = (
        df.withColumn("_hits", bulk_score.asNondeterministic()(F.col(text_col)))
        .select(text_col, F.explode("_hits").alias("h"))
        .select(
            F.col("h.qi").alias("qi"),
            F.col(text_col),
            F.col("h.score").alias("score"),
            F.col("h.kind").alias("kind"),
        )
    )
    w = Window.partitionBy("qi").orderBy(
        F.desc("score"), F.asc(F.length(text_col)), F.asc(text_col)
    )
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(qdf), on="qi")
        .select("query", text_col, "score", "kind", "rank")
    )


def top_matches_fields(
    df: DataFrame,
    field_cols: list[str],
    query_text: str,
    k: int = 10,
    config: MatchConfig | None = None,
) -> DataFrame:
    """Multi-field matching: score the query against several candidate
    columns per row (the reference corpus's symbol/name/isin field pools,
    `Benchmarks/.../CorpusBenchmark.swift:63-92`) and rank rows by the best
    field score.  Earlier columns win ties (field-pool precedence).

    One scan, one Arrow Python stage per field, no shuffle before the
    global top-k — the row payload never moves, only scores are computed.
    """
    if not field_cols:
        raise ValueError("top_matches_fields requires >= 1 field column")
    if len(field_cols) == 1:
        # F.greatest needs >= 2 columns; a one-field pool IS top_matches
        out = top_matches(df, field_cols[0], query_text, k=k, config=config)
        return out.withColumn("field", F.lit(field_cols[0]))
    config = config or MatchConfig()
    q = prepare_query(query_text, config)
    score_udf = make_score_udf(q).asNondeterministic()

    df = ensure_min_partitions(df, floor_bytes=SMALL_INPUT_BYTES)

    scored = df
    for c in field_cols:
        scored = scored.withColumn(f"_m_{c}", score_udf(F.col(c)))
    best = F.greatest(*[F.col(f"_m_{c}.score") for c in field_cols])
    scored = scored.withColumn("score", best).filter(F.col("score").isNotNull())
    # field/kind from the first field achieving the best score
    field_expr = F.lit(None).cast("string")
    kind_expr = F.lit(None).cast("string")
    for c in reversed(field_cols):
        hit = F.col(f"_m_{c}.score") == F.col("score")
        field_expr = F.when(hit, F.lit(c)).otherwise(field_expr)
        kind_expr = F.when(hit, F.col(f"_m_{c}.kind")).otherwise(kind_expr)
    scored = (
        scored.withColumn("field", field_expr)
        .withColumn("kind", kind_expr)
        .drop(*[f"_m_{c}" for c in field_cols])
    )
    # shortest-winning-field-value tie-break (see top_matches)
    best_len = F.lit(None).cast("int")
    for c in reversed(field_cols):
        best_len = F.when(F.col("field") == c, F.length(F.col(c))).otherwise(best_len)
    return scored.orderBy(
        F.desc("score"), F.asc(best_len), *[F.asc(c) for c in field_cols]
    ).limit(k)


def top_matches_fields_bulk(
    df: DataFrame,
    field_cols: list[str],
    queries: list[str],
    k: int = 10,
    config: MatchConfig | None = None,
) -> DataFrame:
    """Whole query workload x multiple candidate fields in ONE corpus pass:
    per Arrow batch, one BatchCandidates per field reused across every
    query; row score = best field score (earlier fields win ties)."""
    if not field_cols:
        raise ValueError("top_matches_fields_bulk requires >= 1 field column")
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    config = config or MatchConfig()
    prepared = [prepare_query(qt, config) for qt in queries]
    out_t = ArrayType(
        StructType(
            [
                StructField("qi", IntegerType()),
                StructField("score", DoubleType()),
                StructField("kind", StringType()),
                StructField("field", StringType()),
            ]
        )
    )

    @F.pandas_udf(out_t)
    def bulk_fields(*cols: pd.Series) -> pd.Series:
        import numpy as np

        from fuzzymatch_spark.kernels.batch_scoring import (
            BatchCandidates,
            batch_score_pairs,
        )

        cands = [
            BatchCandidates([(t or "").encode("utf-8") for t in col])
            for col in cols
        ]
        n = len(cols[0])
        rows: list[list] = [[] for _ in range(n)]
        for qi, q in enumerate(prepared):
            best = np.full(n, np.nan)
            kinds: list = [None] * n
            fields: list = [None] * n
            for fi, cand in enumerate(cands):
                s, kk = batch_score_pairs(cand, q)
                upd = ~np.isnan(s) & (np.isnan(best) | (s > best))
                for r in np.nonzero(upd)[0]:
                    best[r] = s[r]
                    kinds[r] = kk[r]
                    fields[r] = field_cols[fi]
            for r in np.nonzero(~np.isnan(best))[0]:
                rows[r].append(
                    {
                        "qi": qi,
                        "score": float(best[r]),
                        "kind": kinds[r],
                        "field": fields[r],
                    }
                )
        return pd.Series(rows)

    df = ensure_min_partitions(df)

    qdf = df.sparkSession.createDataFrame(
        list(enumerate(queries)), "qi int, query string"
    )
    exploded = (
        df.withColumn(
            "_hits", bulk_fields.asNondeterministic()(*[F.col(c) for c in field_cols])
        )
        .select(*field_cols, F.explode("_hits").alias("h"))
        .select(
            F.col("h.qi").alias("qi"),
            *field_cols,
            F.col("h.score").alias("score"),
            F.col("h.kind").alias("kind"),
            F.col("h.field").alias("field"),
        )
    )
    # shortest-winning-field-value tie-break (see top_matches)
    best_len = F.lit(None).cast("int")
    for c in reversed(field_cols):
        best_len = F.when(F.col("field") == c, F.length(F.col(c))).otherwise(best_len)
    w = Window.partitionBy("qi").orderBy(
        F.desc("score"), F.asc(best_len), *[F.asc(c) for c in field_cols]
    )
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(qdf), on="qi")
        .select("query", *field_cols, "score", "kind", "field", "rank")
    )


def top_matches_multi(
    df: DataFrame,
    text_col: str,
    queries_df: DataFrame,
    query_col: str = "query",
    k: int = 10,
    config: MatchConfig | None = None,
) -> DataFrame:
    """Many queries at once, in ONE corpus pass.

    The query table is small by construction (a human-curated workload); it
    is collected once onto the driver and shipped to executors inside the
    UDF closure (task-broadcast), exactly like ``top_matches_bulk`` — the
    corpus is scanned once, scored against every query per Arrow batch, and
    finished with a per-query window top-k.  This is the distributed form of
    the reference's query workload loop
    (`Benchmarks/.../CorpusBenchmark.swift:94-116`): corpus stays
    partitioned, queries ride with the tasks — no corpus shuffle, no
    per-query scan, at any scale.
    """
    config = config or MatchConfig()
    queries = [r[query_col] for r in queries_df.select(query_col).collect()]
    if not queries:
        return df.sparkSession.createDataFrame(
            [], f"query string, {text_col} string, score double, kind string, rank int"
        )
    return top_matches_bulk(df, text_col, queries, k=k, config=config)
