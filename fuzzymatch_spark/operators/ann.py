"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``      — brute-force exact cosine top-k against a query
  vector, entirely with built-in higher-order functions
  (``zip_with`` + ``aggregate`` — JVM-side, no Python).  The baseline /
  oracle path.
* ``rhp_lsh_buckets`` / ``rhp_knn_pairs`` — random-hyperplane (SimHash for
  vectors) LSH: 64 signed projections -> 64-bit sketch -> banded Hamming
  join.  The 10^12-row scale path for PAIR generation: candidates meet in
  band buckets; exact cosine verifies survivors only.
* ``ivf_assign`` / ``ivf_topk`` — inverted-file (coarse-quantizer) ANN for
  QUERY serving: every vector is assigned to its nearest centroid cell
  once (one BLAS pass per Arrow batch); a query probes only the
  ``n_probe`` nearest cells, so the scan prunes ``1 - n_probe/C`` of the
  corpus.  At scale the table is written partitioned by ``cell`` and the
  probe filter becomes partition pruning at the source.  Centroid choice
  and cell assignment are deterministic (first-C rows, cosine rounded to 6
  decimals, ties to the lower centroid id), so the whole operator is
  DuckDB-reproducible and oracle-checked end-to-end.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from fuzzymatch_spark.operators.dedup import _hamming_band_edges


def _dot(a, b):
    # cast elements to double BEFORE multiplying so results are bit-stable
    # regardless of the stored element type (float32 embeddings)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _safe_cos(a, b):
    """cos(a, b) under the engine's zero-norm convention (cos := 0 for a
    degenerate all-zero vector — the `_assign_labeled` pin, mirrored in
    every cosine oracle): under ANSI mode a bare division would abort
    the whole job on ONE empty embedding.  For nonzero norms the value
    is bit-identical to the bare division, so guarding changes nothing
    on well-formed data."""
    norms = _norm(a) * _norm(b)
    return F.when(norms > 0, _dot(a, b) / norms).otherwise(F.lit(0.0))


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: TakeOrderedAndProject over a single projection
    pass; deterministic tie-break on id.

    The query-vector norm is folded on the DRIVER (r7): higher-order
    functions evaluate interpreted and are not constant-folded, so
    ``_norm(lit(query))`` used to re-run a 64-element fold per ROW.  The
    Python ``sqrt(sum(x*x))`` below performs the identical sequential
    IEEE-double operations in the identical order, so the product
    ``norm(a) * qn`` is bit-identical to the expression form (the
    cross-engine determinism rule CLAUDE.md pins for oracle paths; the
    all-SF parity replica re-verified green).  The scan is also spread
    via ``ensure_min_partitions`` — a single-row-group parquet otherwise
    serializes the whole interpreted-HOF projection onto one core.
    """
    import math

    from fuzzymatch_spark.plans.parallelism import ensure_min_partitions

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = 0.0
    for x in query_vec:
        qn += float(x) * float(x)
    qn = math.sqrt(qn)
    norms = _norm(F.col(vec_col)) * F.lit(qn)
    cos = F.when(norms > 0, _dot(F.col(vec_col), q) / norms).otherwise(
        F.lit(0.0)
    )
    return (
        ensure_min_partitions(df)
        .select(F.col(id_col), F.round(cos, 5).alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def cosine_dup_pairs(
    df: DataFrame,
    vec_col: str,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (brute force, JVM-side).

    The small-table / oracle path: all-pairs self-join + `zip_with` dot
    product in whole-stage codegen.  At scale use ``rhp_knn_pairs`` (LSH
    bucketed candidates, same verify expression).  Cosine is rounded to 4
    decimals before thresholding so the predicate is reproducible across
    engines.
    """
    a = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb"))
    cos = _safe_cos(F.col("va"), F.col("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", F.round(cos, 4))
        .filter(F.col("cos") >= F.lit(min_cosine))
        .select("a_id", "b_id", "cos")
    )


def rhp_sketch_udf(dim: int, seed: int = 42, n_planes: int = 64):
    """Random-hyperplane 64-bit sketch as a pandas UDF (matrix multiply per
    Arrow batch — one BLAS call per batch, no per-row Python)."""
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(dim, n_planes))

    @F.pandas_udf(LongType())
    def sketch(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int64)
        mat = np.stack(vecs.to_numpy())
        bits = (mat @ planes) > 0
        weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))
        vals = (bits.astype(np.uint64) * weights).sum(axis=1)
        return pd.Series(vals.astype(np.int64))

    return sketch


def rhp_knn_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    seed: int = 42,
    max_hamming: int = 7,
    min_cosine: float = 0.7,
    dim: int | None = None,
) -> DataFrame:
    """LSH-bucketed near-neighbor pairs: sketch -> banded Hamming join ->
    exact cosine verify (JVM-side) on survivors.

    Pass ``dim`` (embedding dimensionality) when known — inferring it costs
    a driver action (``first()``) that re-executes the input DAG."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    sk = rhp_sketch_udf(dim, seed)
    sketched = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sk(F.col(vec_col)).alias("rhp")
    )
    cand = _hamming_band_edges(
        sketched, "id", "rhp", n_bands=8, max_hamming=max_hamming, source="rhp"
    )
    a = sketched.select(F.col("id").alias("a_id"), F.col("v").alias("va"))
    b = sketched.select(F.col("id").alias("b_id"), F.col("v").alias("vb"))
    cos = _safe_cos(F.col("va"), F.col("vb"))
    return (
        cand.join(a, on="a_id").join(b, on="b_id")
        .withColumn("cos", F.round(cos, 5))
        .filter(F.col("cos") >= F.lit(min_cosine))
        .select("a_id", "b_id", "cos")
    )


def _centroid_matrix(df: DataFrame, vec_col: str, id_col: str, n_centroids: int):
    """Deterministic coarse quantizer: the first ``n_centroids`` rows by id
    (L2-normalized).  A production build would k-means these; the fixed
    choice keeps the operator reproducible across engines (and is exactly
    how IVF indexes behave under a frozen codebook).

    Requires dense integer ids covering ``0..n_centroids-1`` (the driver
    tables' shape); anything sparser/stringly fails loudly rather than
    producing a silently undersized codebook."""
    rows = (
        df.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    if len(rows) < n_centroids:
        raise ValueError(
            f"IVF codebook needs {n_centroids} rows with {id_col} in "
            f"[0, {n_centroids}) but found {len(rows)} — ids must be dense "
            "integers starting at 0 (or pass an explicit centroid matrix)"
        )
    rows.sort(key=lambda r: r[0])
    cents = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return cents / norms, [int(r[0]) for r in rows]


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: np.ndarray,
    cell_col: str = "cell",
) -> DataFrame:
    """Assign every vector to its nearest centroid cell (max cosine, 6-dp
    rounded, ties to the lower centroid index) — ONE matrix multiply per
    Arrow batch.  At 10^12 rows this is the index-build pass; write the
    result partitioned by ``cell`` so probes prune partitions."""
    from pyspark.sql.types import IntegerType

    cmat = np.asarray(centroids, dtype=np.float64).T  # (dim, C)

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int32)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        cos = np.round((mat / nrm) @ cmat, 6)
        return pd.Series(np.argmax(cos, axis=1).astype(np.int32))

    return df.withColumn(cell_col, assign(F.col(vec_col)))


def _probe_cells(
    centroids: np.ndarray, query_vec: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` cells nearest the query (6-dp-rounded cosine, ties
    to the lower centroid id) — the same deterministic math as the cell
    assignment, shared by the inline and the stored-index probe paths."""
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = np.linalg.norm(q)
    qcos = np.round((q / (qn if qn > 0 else 1.0)) @ centroids.T, 6)
    order = sorted(range(len(qcos)), key=lambda i: (-qcos[i], i))
    return [int(p) for p in order[: min(n_probe, len(order))]]


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k, inline form: probe the ``n_probe`` cells
    nearest the query and run the exact cosine top-k inside them only.

    Recall shape: near-duplicate neighbors (cos ~1) share the query's cell
    essentially always; weak neighbors may fall outside the probed cells —
    the standard IVF trade.  This form recomputes the assignment per call
    (fine for the oracle entry / one-shot queries); the serving path is
    ``ivf_build`` once + ``ivf_probe_topk`` per query, where the probe
    filter becomes structural partition pruning at the parquet source."""
    cents, _ = _centroid_matrix(df, vec_col, id_col, n_centroids)
    probes = _probe_cells(cents, query_vec, n_probe)

    assigned = ivf_assign(df, vec_col, cents)
    pruned = assigned.filter(F.col("cell").isin(*probes))
    out = cosine_topk(pruned, vec_col, [float(x) for x in query_vec], k=k,
                      id_col=id_col)
    return out


def ivf_dup_pairs(
    df: DataFrame,
    vec_col: str,
    min_cosine: float = 0.95,
    n_centroids: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023):
    assign every vector to its IVF cell (one BLAS matmul per Arrow batch),
    then exact cosine pairs WITHIN each cell only — the quadratic work
    drops from |D|^2 to sum of per-cell sizes^2, and the pair join is an
    equi-join on ``cell`` so each task sees one cell's block.

    Recall shape: near-duplicates (cos ~1) share a cell essentially
    always (their centroid cosines differ by O(1-cos)); distant pairs are
    the ones the cell partition skips — exactly the pairs a dedup doesn't
    want.  Cosine is rounded to 4 decimals before thresholding, like
    ``cosine_dup_pairs`` (the |D|^2 oracle path this operator bounds).
    """
    cents, _ = _centroid_matrix(df, vec_col, id_col, n_centroids)
    assigned = ivf_assign(df, vec_col, cents)
    a = assigned.select(
        "cell", F.col(id_col).alias("a_id"), F.col(vec_col).alias("va")
    )
    b = assigned.select(
        "cell", F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb")
    )
    cos = _safe_cos(F.col("va"), F.col("vb"))
    return (
        a.join(b, on="cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", F.round(cos, 4))
        .filter(F.col("cos") >= F.lit(min_cosine))
        .select("a_id", "b_id", "cos")
    )


def ivf_build(
    df: DataFrame,
    vec_col: str,
    index_path: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
) -> None:
    """Build and persist the IVF index: deterministic codebook + per-vector
    cell assignment, written ``partitionBy("cell")`` so every probe prunes
    partitions structurally at the source — the scan touches ONLY the
    probed cells' files, skipping ``1 - n_probe/C`` of the corpus without
    reading a row.  At 10^12 rows this is the one-time index-build pass
    (one matmul per Arrow batch), amortized across every query.

    The codebook is stored under ``<index_path>/_codebook`` — an
    underscore-prefixed path, invisible to directory-level parquet reads of
    the index itself."""
    spark = df.sparkSession
    cents, cent_ids = _centroid_matrix(df, vec_col, id_col, n_centroids)
    assigned = ivf_assign(df, vec_col, cents)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(index_path)
    rows = [
        (int(cid), [float(x) for x in c]) for cid, c in zip(cent_ids, cents)
    ]
    spark.createDataFrame(
        rows, "cid int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/_codebook")


def load_ivf_codebook(spark, index_path: str) -> np.ndarray:
    """The (C, dim) L2-normalized centroid matrix stored by ``ivf_build``."""
    rows = spark.read.parquet(f"{index_path}/_codebook").collect()
    rows.sort(key=lambda r: r[0])
    return np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)


def ivf_probe_topk(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Serve an ANN query from a stored ``ivf_build`` index: pick the
    ``n_probe`` nearest cells from the stored codebook (driver-side, O(C)),
    then exact cosine top-k over ONLY those cells — ``cell`` is the
    partition column, so the ``isin`` filter is partition pruning, not a
    scan-and-discard (plan-tested in tests/test_plan_quality.py)."""
    cents = load_ivf_codebook(spark, index_path)
    probes = _probe_cells(cents, query_vec, n_probe)
    pruned = spark.read.parquet(index_path).filter(F.col("cell").isin(*probes))
    return cosine_topk(pruned, vec_col, [float(x) for x in query_vec], k=k,
                       id_col=id_col)


def _pq_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    n_codes: int,
) -> np.ndarray:
    """Deterministic product-quantization codebooks: the sub-vectors of the
    first ``n_codes`` rows by id, RAW (not normalized — PQ quantizes
    magnitude as well as direction).  Returns ``(m, n_codes, sub_dim)``
    float64.  A production build would k-means each subspace (Jégou et
    al., TPAMI 2011 §III); the frozen first-``n_codes`` choice keeps the
    operator reproducible across engines, exactly like the IVF coarse
    codebook above — and is how any PQ index behaves once its codebooks
    are trained and pinned."""
    rows = (
        df.filter(F.col(id_col) < n_codes).select(id_col, vec_col).collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"PQ codebooks need {n_codes} rows with {id_col} in "
            f"[0, {n_codes}) but found {len(rows)} — ids must be dense "
            "integers starting at 0 (or pass explicit codebooks)"
        )
    rows.sort(key=lambda r: r[0])
    full = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    dim = full.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    # cb[s, c, j] == full[c, s*sub + j]
    return full.reshape(n_codes, m, sub).transpose(1, 0, 2).copy()


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: np.ndarray,
    code_col: str = "pq_codes",
) -> DataFrame:
    """Product-quantization encoding: each vector becomes ``m`` small int
    codes (``array<int>``), one per subspace — nearest codeword by squared
    L2 (6-dp rounded, ties to the lower code id), one vectorized distance
    tensor per Arrow batch, no per-row Python.

    THIS is the compressed-domain scale story for 10^12-row similarity
    search: a 64-dim float32 corpus is 256 B/row (25.6 TB/10^11 rows) but
    its ``m=8`` PQ codes are 8 B/row — the codes table fits where the
    float table cannot, and every ADC query scans codes only.  The
    float-vector column is read ONCE here (encode where the vectors live)
    and never shuffles."""
    from pyspark.sql.types import ArrayType, IntegerType

    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, n_codes, sub = cb.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def enc(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat.reshape(len(vecs), m, sub)
        # dist[b, s, c] = sum_j (mat[b,s,j] - cb[s,c,j])^2, rounded to 6 dp
        # before the argmin so the choice is reproducible cross-engine
        # (the direct squared-difference form, not |x|^2-2xc+|c|^2, so the
        # float64 terms match the oracle's sum((a-b)^2))
        dist = np.round(
            ((mat[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(-1), 6
        )
        codes = dist.argmin(axis=2).astype(np.int32)
        return pd.Series(list(codes))

    return df.withColumn(code_col, enc(F.col(vec_col)))


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance (ADC) cosine top-k over STORED PQ codes — the
    query never touches a float vector row.

    Driver-side the query builds two tiny lookup tables (``m × n_codes``
    each: query-subvector·codeword dots and codeword squared norms, 6-dp
    rounded) and ships them as array LITERALS, so the executor-side scan
    is pure within-row JVM arithmetic: ``transform`` picks each code's LUT
    entries, ``aggregate`` folds the ``m`` terms, and the top-k is
    TakeOrdered — zero shuffle, zero Python, whole-stage codegen
    (plan-tested).  cos ≈ q·recon(x) / (|q|·|recon(x)|) where recon is the
    codeword concatenation; a zero-norm reconstruction (or query) pins
    cos := 0, same convention as the k-means assignment above."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, sub = cb.shape
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    if q.shape[0] != m * sub:
        raise ValueError(f"query dim {q.shape[0]} != m*sub {m * sub}")
    qs = q.reshape(m, sub)
    dlut = np.round(np.einsum("sj,scj->sc", qs, cb), 6)  # (m, n_codes)
    nlut = np.round((cb**2).sum(-1), 6)  # (m, n_codes)
    qn = float(np.sqrt((q**2).sum()))

    def lut_lit(a: np.ndarray):
        return F.array(
            *[F.array(*[F.lit(float(v)) for v in row]) for row in a]
        )

    def fold(lut_col):
        picked = F.transform(
            F.col(code_col),
            lambda c, i: F.element_at(
                F.element_at(lut_col, i + F.lit(1)), c + F.lit(1)
            ),
        )
        return F.aggregate(picked, F.lit(0.0), lambda acc, v: acc + v)

    adc_dot = fold(lut_lit(dlut))
    rsq = fold(lut_lit(nlut))
    cos = F.when(
        (rsq > 0) & (F.lit(qn) > 0), adc_dot / (F.lit(qn) * F.sqrt(rsq))
    ).otherwise(F.lit(0.0))
    return (
        codes_df.select(F.col(id_col), F.round(cos, 5).alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def _assign_labeled(cmat: np.ndarray, labels: list[int], vec):
    """Nearest-centroid assignment as a PURE JVM expression: a struct
    (cell label, 6-dp cosine) built from one zip_with/aggregate dot
    product per centroid and an argmax over structs.

    Staying JVM-side matters twice here: the k dot products run in
    whole-stage codegen (for k=8, dim=64 that beats shipping the column
    to Python), and — load-bearing — the result composes safely under
    generators (kmeans' update step posexplodes the vector in the same
    projection; a pandas UDF there trips Catalyst's Python-UDF extraction
    into interpreted eval).  For large k*dim, assign with the BLAS-batch
    ``ivf_assign`` path instead and join the label on.

    Ties go to the LOWER label: the struct max compares (cos, -label).
    ``cmat`` rows must be unit-normalized, ``labels`` ascending.
    """
    assert list(labels) == sorted(labels)
    # zero vectors (e.g. hash_vectorize of an empty document) must not
    # divide by zero — under Spark 4's default ANSI mode that aborts the
    # job.  cos := 0 for them, so they deterministically take the lowest
    # label through the tie-break.
    raw_norm = _norm(vec)
    vnorm = F.when(raw_norm == 0, F.lit(1.0)).otherwise(raw_norm)
    cands = []
    for row, lab in zip(np.asarray(cmat, dtype=np.float64), labels):
        if not row.any():
            # zero centroid (e.g. the first-k init hit an empty/whitespace
            # document in the hash_vectorize path, or an update produced an
            # all-zero cell): _norm(arr) == 0 would trip the same ANSI
            # divide-by-zero as the vnorm guard above.  cmat is driver-side,
            # so the guard is a driver-side constant: cos := 0.
            cands.append(F.struct(F.lit(0.0).alias("cos"),
                                  F.lit(-int(lab)).alias("neg")))
            continue
        arr = F.array(*[F.lit(float(x)) for x in row])
        cos = F.round(_dot(vec, arr) / (vnorm * _norm(arr)), 6)
        cands.append(F.struct(cos.alias("cos"),
                              F.lit(-int(lab)).alias("neg")))
    best = F.array_max(F.array(*cands))
    return F.struct(
        (-best["neg"]).cast("int").alias("cell"),
        best["cos"].alias("cos"),
    )


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column (cosine
    assignment), the iterative-algorithm pattern on Spark.

    Semantics, pinned for cross-engine reproduction:
      * init centroids = the first ``k`` rows by id (like the IVF
        codebook), unit-normalized;
      * assignment = max 6-dp-rounded cosine, ties to the lower centroid
        label;
      * update = per-dimension arithmetic mean of the member components,
        summed exactly in decimal(38,18) then divided in double and
        rounded to 6 decimals — the exact sum makes the mean
        order-independent, so a DuckDB oracle reproduces every iteration
        bit-for-bit (not just within fp drift of the 6-dp boundary);
      * ``iters`` assignment rounds with an update between consecutive
        rounds (iters=2: assign -> update -> assign -> emit); empty cells
        simply drop out of the next round's codebook.

    Scale shape: assignment is k JVM dot products per row in whole-stage
    codegen (no Python stage anywhere — see ``_assign_labeled``); the
    update is a (k x dim)-row aggregate — the classic driver-synchronized
    k-means loop, where per-iteration driver traffic is O(k * dim),
    never O(rows).  Returns (id, cluster, cos).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    cmat, labels = _centroid_matrix(df, vec_col, id_col, k)

    base = df.select(F.col(id_col), F.col(vec_col))
    for it in range(iters):
        assigned = base.withColumn(
            "asg", _assign_labeled(cmat, labels, F.col(vec_col))
        )
        if it == iters - 1:
            return assigned.select(
                F.col(id_col),
                F.col("asg.cell").alias("cluster"),
                F.col("asg.cos").alias("cos"),
            )
        upd = (
            assigned.select(
                F.col("asg.cell").alias("cell"),
                F.posexplode(vec_col).alias("dim", "val"),
            )
            .groupBy("cell", "dim")
            # exact decimal(38,18) sum then one double divide: the mean is
            # order-independent, so a 6-dp value within fp drift of a
            # rounding boundary cannot flip between engines (CLAUDE.md
            # cross-engine rule; mirrored in the oracle's c1 CTE)
            .agg(
                F.round(
                    F.sum(
                        F.col("val").cast("double").cast("decimal(38,18)")
                    ).cast("double")
                    / F.count("*"),
                    6,
                ).alias("v")
            )
            .collect()  # O(k * dim) rows — codebook-sized by construction
        )
        bycell: dict[int, dict[int, float]] = {}
        for r in upd:
            bycell.setdefault(int(r["cell"]), {})[int(r["dim"])] = float(r["v"])
        labels = sorted(bycell)
        dim = cmat.shape[1]
        rows = np.array(
            [[bycell[c].get(d, 0.0) for d in range(dim)] for c in labels],
            dtype=np.float64,
        )
        norms = np.linalg.norm(rows, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cmat = rows / norms


def decontaminate_embeddings(
    corpus_df: DataFrame,
    bench_df: DataFrame,
    bench_id: str = "bench_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
) -> DataFrame:
    """Embedding-space decontamination: flag every corpus row whose
    vector is within ``min_cosine`` of ANY benchmark/eval vector — the
    semantic tier of benchmark decontamination, catching eval items
    that survive the exact n-gram, fuzzy-shingle, and pHash screens
    (paraphrases, re-crops, style transfers).

    One exact screen (``make_embedding_screen``): one numpy GEMM per
    Arrow batch against the L2-normalized benchmark matrix shipped in
    the UDF closure.  No joins, no exchange — the corpus never shuffles.
    Closure memory bounds |bench| at ~1e5-1e6 vectors (dim-64 doubles:
    51 MB at 1e5); beyond that, ``decontaminate_embeddings_sharded``
    runs the GEMM per benchmark shard and combines the flags.

    Measured losers, removed (200k corpus x 1k bench x dim-64,
    local[32]; BENCH.md embedding-decon row): a BroadcastNestedLoopJoin
    with interpreted ``zip_with``/``aggregate`` cosines took 191 s
    against 0.87 s for the GEMM, with the same 45,674 flags; an IVF
    variant (benchmark-fit centroids, same-cell cosines) took 27 s.
    The GEMM replaced the join form in the ``decontamination_suite``
    oracle row after collected rows compared equal on unrounded doubles
    at sf0.001/0.01/0.1.

    Cosine is rounded to 4 decimals BEFORE thresholding so the
    predicate is reproducible cross-engine (`cosine_dup_pairs`
    convention).  numpy rounds half-even where the JVM and DuckDB round
    half-up, so a cosine EXACTLY at a 4th-decimal midpoint can flag
    differently (measure-zero on real embeddings).  Returns
    ``corpus_df`` + ``n_bench_hits``, ``max_cos`` (NULL for clean
    rows), ``contaminated`` (int 0/1); a NULL corpus vector is clean.
    A corpus vector whose length differs from the benchmark's fails the
    job with a ``ValueError`` naming both lengths.
    """
    return make_embedding_screen(bench_df, bench_id, vec_col, min_cosine)(
        corpus_df
    )


def make_embedding_screen(
    bench_df: DataFrame,
    bench_id: str = "bench_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
):
    """Build the GEMM screen ONCE — collect + L2-normalize the benchmark
    matrix and compile the pandas_udf closure — and return a reusable
    ``apply(corpus_df) -> DataFrame``.

    This is the amortized form of ``decontaminate_embeddings`` for
    repeated callers: the streaming sink used to pay the driver collect +
    closure broadcast on EVERY micro-batch (the per-batch overhead
    recorded in f8ed735); built at sink-construction time the per-batch
    cost is the GEMM alone (the ``bench_sig`` pattern the fuzzy tier
    already used).  Output is identical to the one-shot path, which
    delegates here."""
    import pandas as pd
    from pyspark.sql import types as T

    rows = (
        bench_df.select(bench_id, vec_col)
        .where(F.col(vec_col).isNotNull())
        .collect()
    )
    if not rows:
        def apply_empty(corpus_df: DataFrame) -> DataFrame:
            return (
                corpus_df.withColumn(
                    "n_bench_hits", F.lit(0).cast("long")
                )
                .withColumn("max_cos", F.lit(None).cast("double"))
                .withColumn("contaminated", F.lit(0))
            )

        return apply_empty
    bmat = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    bnorm = np.linalg.norm(bmat, axis=1)
    bnorm[bnorm == 0] = 1.0  # zero bench vector: cos := 0 convention
    bmat = bmat / bnorm[:, None]
    dim = bmat.shape[1]
    thr = float(min_cosine)

    out_type = T.StructType([
        T.StructField("n_bench_hits", T.LongType()),
        T.StructField("max_cos", T.DoubleType()),
    ])

    @F.pandas_udf(out_type)
    def screen(vs: pd.Series) -> pd.DataFrame:
        # NULL vectors stay unflagged; stacking them with real rows
        # would fail the whole batch
        live = vs.notna().to_numpy()
        n = np.zeros(len(vs), dtype="int64")
        mx = np.full(len(vs), np.nan)
        vecs = [np.asarray(v, dtype=np.float64) for v in vs[live]]
        for v in vecs:
            if v.shape != (dim,):
                raise ValueError(
                    f"embedding screen: a corpus vector has {v.size} "
                    f"elements, the benchmark vectors have {dim}"
                )
        if vecs:
            mat = np.stack(vecs)
            rn = np.linalg.norm(mat, axis=1)
            rn[rn == 0] = 1.0
            cos = np.round((mat / rn[:, None]) @ bmat.T, 4)
            hit = cos >= thr
            n[live] = hit.sum(axis=1)
            mx[live] = np.max(np.where(hit, cos, -np.inf), axis=1)
        return pd.DataFrame({
            "n_bench_hits": n,
            "max_cos": np.where(n > 0, mx, np.nan),
        })

    def apply(corpus_df: DataFrame) -> DataFrame:
        s = screen(F.col(vec_col))
        return (
            corpus_df.withColumn("_s", s)
            .withColumn("n_bench_hits", F.col("_s.n_bench_hits"))
            .withColumn(
                "max_cos",
                F.when(F.col("_s.n_bench_hits") > 0, F.col("_s.max_cos")),
            )
            .withColumn(
                "contaminated", (F.col("_s.n_bench_hits") > 0).cast("int")
            )
            .drop("_s")
        )

    return apply


def decontaminate_embeddings_sharded(
    corpus_df: DataFrame,
    bench_df: DataFrame,
    n_shards: int,
    corpus_id: str = "vec_id",
    bench_id: str = "bench_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
) -> DataFrame:
    """`decontaminate_embeddings` for benchmark sets that
    outgrow the UDF closure (~1e5-1e6 vectors at dim-64 doubles): split
    the BENCHMARK into ``n_shards`` hash shards, run the GEMM screen per
    shard, and combine the flags — hits add, max cosine maxes, a row is
    contaminated if ANY shard flags it.  Exactly the unsharded output,
    pinned by test.

    Unlike the payload filter's sharding (where hash alignment lets each
    corpus shard face one drop shard), every corpus row must be checked
    against EVERY benchmark shard — so the cost is ``n_shards`` corpus
    scans of the (id, vector) projection, each at GEMM speed, and the
    combine step exchanges only flagged ids.  Pick ``n_shards`` as
    ceil(|bench| / closure_budget).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    shard = F.pmod(F.xxhash64(F.col(bench_id).cast("string")), F.lit(n_shards))
    parts = None
    for s in range(n_shards):
        p = (
            decontaminate_embeddings(
                corpus_df.select(corpus_id, vec_col),
                bench_df.where(shard == s),
                bench_id=bench_id,
                vec_col=vec_col,
                min_cosine=min_cosine,
            )
            .filter(F.col("contaminated") == 1)
            .select(corpus_id, "n_bench_hits", "max_cos")
        )
        parts = p if parts is None else parts.unionByName(p)
    hits = (
        parts.groupBy(corpus_id)
        .agg(
            F.sum("n_bench_hits").cast("long").alias("n_bench_hits"),
            F.max("max_cos").alias("max_cos"),
        )
    )
    return (
        corpus_df.join(F.broadcast(hits), corpus_id, "left")
        .withColumn(
            "n_bench_hits", F.coalesce("n_bench_hits", F.lit(0).cast("long"))
        )
        .withColumn("contaminated", (F.col("n_bench_hits") > 0).cast("int"))
    )
