"""Near-duplicate candidate generation + verification.

This is the engine's replacement for the reference's per-candidate prefilter
cascade at corpus scale (SURVEY.md §2.5): instead of scoring every
(query, candidate) pair behind O(1)/O(n) prefilters
(`Sources/FuzzyMatch/FuzzyMatcher.swift:372-418`), we generate candidate
pairs with set-similarity joins and verify only those:

* exact duplicates  — hash groupBy, no pair explosion
  (corpus-scale `checkExactMatch`, `FuzzyMatcher.swift:507-520`)
* MinHash banded LSH — scalable analog of the trigram count filter
  (`Sources/FuzzyMatch/Trigrams.swift:161-177`); same shingle packing
* SimHash Hamming bands — token-level near-dup (north rule)
* pHash Hamming bands  — perceptual image near-dup (north rule)

All similarity joins are decomposed into equi-join on a band key +
post-filter (the standard LSH theta-join reduction).  Hot-bucket skew is
handled by capping bucket sizes (boilerplate captions create mega-buckets;
dropped buckets are reported, not silently ignored) plus AQE skew-join.

Scale notes (100 TB / 10^12 rows):
* band keys are 64-bit hashes — the band self-join shuffles only
  (band_key, id), never text or signatures;
* within-bucket pair generation is quadratic per bucket — the cap bounds it;
* verification joins signatures back by id (sort-merge on id, AQE-coalesced),
  so full strings ride exactly two shuffles end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fuzzymatch_spark.config import DedupConfig
from fuzzymatch_spark.functions.udfs import make_dl_udf, make_signature_udf
from fuzzymatch_spark.plans.parallelism import ensure_min_partitions


def compute_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: DedupConfig | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """One fused UDF pass: id, text -> id + signature columns.

    ``min_partitions`` guards against under-partitioned inputs (e.g. a
    single-row-group parquet file): the UDF stage is CPU-bound, so it must
    see at least one partition per core.  Defaults to the session's
    default parallelism when the input has fewer partitions than that.
    """
    cfg = cfg or DedupConfig()
    df = ensure_min_partitions(df, min_partitions)
    sig = make_signature_udf(cfg)
    out = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        sig(F.col(text_col)).alias("_s"),
    )
    return out.select(
        "id",
        "text",
        F.col("_s.caption_norm").alias("caption_norm"),
        F.col("_s.char_mask").alias("char_mask"),
        F.col("_s.n_shingles").alias("n_shingles"),
        F.col("_s.shingles").alias("shingles"),
        F.col("_s.minhash_sig").alias("minhash_sig"),
        F.col("_s.simhash").alias("simhash"),
    )


def exact_dup_edges(sig_df: DataFrame) -> DataFrame:
    """Star edges (min_id -> other) within identical-normalized-text groups.

    groupBy avoids pair explosion entirely: a group of n exact duplicates
    emits n-1 star edges, not n*(n-1)/2 pairs.  The group key is
    ``(xxhash64(caption_norm), length(caption_norm))`` so the shuffle moves
    12 bytes per row instead of the full text (SURVEY.md §2.5) — at 10^12
    rows the text column never enters this exchange.  A 64-bit hash + exact
    length makes false merges vanishingly unlikely; downstream verification
    scores edges anyway, so a collision cannot produce a wrong final score.

    Memory is bounded per ROW, not per group: the group minimum is computed
    with a plain ``min`` aggregate (constant state) and star edges come from
    joining members back to their group min — a 10^8-member boilerplate
    group becomes 10^8 bounded join rows across tasks, never one
    10^8-element ``collect_list`` aggregation row.  Both join sides are
    hash-partitioned on the same (nh, nlen) key, so the join reuses the
    aggregation's exchange.
    """
    keyed = sig_df.selectExpr(
        "xxhash64(caption_norm) AS nh", "length(caption_norm) AS nlen", "id"
    )
    mins = (
        keyed.groupBy("nh", "nlen")
        .agg(F.min("id").alias("a_id"), F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    return (
        keyed.join(mins, on=["nh", "nlen"])
        .filter("id != a_id")
        .selectExpr("a_id", "id AS b_id", "'exact' AS source")
    )


def image_exact_dup_edges(
    images_df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Tier-0 of the image dedup ladder: byte-identical files (exact
    re-uploads/mirror copies) as star edges (min_id -> other), before any
    decode happens.

    Same shape as ``exact_dup_edges``: digest groups + join-to-group-min,
    so an n-copy file emits n-1 edges with constant aggregation state.
    The md5 digest and octet length are computed WHERE THE BYTES LIVE
    (JVM expressions over the binary column) and only (digest, length,
    id) enter the exchange — payload bytes never shuffle (the invariant
    tests/test_plan_quality.py enforces for every image operator).

    At 10^12-row scale this tier runs FIRST: byte-exact copies are
    deduped for the cost of one scan + a 28-byte-per-row exchange,
    shrinking the decode + pHash workload to distinct files only.  Its
    edges are a subset of the pHash tier's (identical bytes => identical
    pHash), so correctness of the cluster output never depends on it —
    it is purely the cheap early tier.
    """
    keyed = images_df.select(
        F.md5(F.col(bytes_col)).alias("dg"),
        F.octet_length(F.col(bytes_col)).alias("dlen"),
        F.col(id_col).alias("id"),
    )
    mins = (
        keyed.groupBy("dg", "dlen")
        .agg(F.min("id").alias("a_id"), F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    return (
        keyed.join(mins, on=["dg", "dlen"])
        .filter(F.col("id") != F.col("a_id"))
        .select("a_id", F.col("id").alias("b_id"))
        .withColumn("source", F.lit("exact_bytes"))
    )


def _salted_self_join_pairs(
    bands: DataFrame,
    key_cols: list[str],
    shard_target: int,
    max_shards: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Self-join within buckets with TRIANGLE-BLOCK SALTING for hot keys
    (the north rule's 'salting to defuse hot-shingle skew').

    Each bucket of size n is sharded into g = clamp(ceil(n/shard_target),
    1, max_shards) groups by a deterministic hash of the member id.  The
    unordered pair (x, y) with shards (sx <= sy) is enumerated exactly once
    at block (i=sx, j=sy): the A side of the join explodes each member to
    blocks (sx, j) for j >= sx, the B side to (i, sy) for i <= sy.  Every
    join task therefore sees at most ~2*shard_target members per block key —
    a mega-bucket becomes g*(g+1)/2 bounded tasks instead of one quadratic
    straggler.  Buckets beyond shard_target*max_shards are dropped
    (accounted by the caller via bucket stats, never silent).

    ``bands`` must have columns ``id`` + key_cols.  Returns (a_id, b_id).

    Implementation: ONE exchange (groupBy on the bucket key, collect_list)
    — same plan family as ``_hamming_band_edges`` (no window sort, no join
    probe; measured faster at both 8 and 32 cores with identical output).
    Sharding happens IN-ROW on the collected bucket: members split into g
    hash-shards, the bucket row explodes into its g*(g+1)/2 triangle
    blocks, and each block expands only its own A x B members — a
    mega-bucket becomes bounded block expansions instead of one quadratic
    straggler.  Aggregation state is bounded by shard_target * max_shards
    members per group (larger buckets are dropped by the size filter;
    ObjectHashAggregate falls back to sort-based spilling before that).
    """
    # expression blocks are SQL strings (selectExpr = one py4j round trip
    # per stage): the Column/HOF-lambda form of this chain cost ~0.14 s of
    # driver-serial construction per call (measured, r7) for an identical
    # parsed tree
    grouped = (
        bands.groupBy(*key_cols)
        .agg(F.collect_list("id").alias("ms"))
        .filter(f"size(ms) > 1 AND size(ms) <= {shard_target * max_shards}")
        .selectExpr(
            "*",
            f"CAST(least(ceil(size(ms) / {shard_target}), {max_shards}) "
            "AS INT) AS g",
        )
        .selectExpr(
            "*",
            f"transform(ms, m -> CAST(pmod(xxhash64(m, {seed}), g) AS INT))"
            " AS shards",
        )
        .selectExpr(
            "*",
            "explode(flatten(transform(sequence(0, g - 1), "
            "i -> transform(sequence(i, g - 1), "
            "j -> named_struct('i', i, 'j', j))))) AS blk",
        )
        .selectExpr(
            "*",
            "filter(ms, (m, ix) -> get(shards, ix) = blk.i) AS A",
            "filter(ms, (m, ix) -> get(shards, ix) = blk.j) AS B",
        )
    )
    # diagonal blocks have A == B (both orders generated, normalized below);
    # cross blocks generate each pair once — dropDuplicates also dedupes
    # across bands, which the caller needed anyway
    return (
        grouped.selectExpr("explode(A) AS a", "B")
        .selectExpr("a", "explode(B) AS b")
        .filter("a != b")
        .selectExpr("least(a, b) AS a_id", "greatest(a, b) AS b_id")
        .dropDuplicates(["a_id", "b_id"])
    )


def minhash_bands(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id, band, key) rows — one 64-bit LSH key per band per row.  The
    shared band decomposition for the batch self-join and the incremental
    (streaming) new-vs-existing join."""
    r = cfg.rows_per_band
    # one SQL string instead of per-band Column calls (~85 py4j round
    # trips of driver-serial construction saved per call; identical tree)
    band_structs = ", ".join(
        f"named_struct('band', {i}, 'key', "
        f"xxhash64({i}, slice(minhash_sig, {i * r + 1}, {r})))"
        for i in range(cfg.bands)
    )
    return sig_df.selectExpr(
        "id", f"explode(array({band_structs})) AS bk"
    ).selectExpr("id", "bk.band AS band", "bk.key AS key")


def minhash_band_edges(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Banded-LSH self-join on MinHash signatures.

    One ``explode`` produces (band, key) rows; the self-join is an equi-join
    on the 64-bit band key with triangle-block salting for hot buckets
    (boilerplate captions create mega-buckets; see
    ``_salted_self_join_pairs``).

    The band index is ALREADY folded into the key (``minhash_bands`` hashes
    ``xxhash64(band_i, slice)``), so the self-join groups on the single
    64-bit ``key`` — the 4-byte ``band`` column never enters the exchange
    (same fused-key shape as ``hamming_band_keys``, which measured
    −30%/−23% join wall at 8/32 cores).  Cross-band bucket merges require
    an xxhash64 collision — the same (negligible) risk the within-band join
    already carries, and a collision only ADDS a candidate pair that
    downstream verification scores anyway; recall is unaffected.
    """
    bands = minhash_bands(sig_df, cfg).select("id", "key")

    pairs = _salted_self_join_pairs(
        bands, ["key"], shard_target=cfg.max_bucket_size, seed=cfg.seed
    )
    return pairs.withColumn("source", F.lit("minhash"))


def check_hamming_radius(
    n_bands: int, max_hamming: int, name: str = "max_hamming"
) -> None:
    """Raise ``ValueError`` unless ``0 <= max_hamming < n_bands`` and
    ``n_bands`` splits the 64-bit hash into equal blocks.

    The Manku banding finds a pair only if it agrees on at least one of
    the C(m, m - k) block combos, which pigeonhole guarantees while
    ``k < m``; a radius of ``n_bands`` or more would drop pairs whose
    differing bits touch every block.  Every Hamming join checks its
    radius here, before it builds or persists anything."""
    if n_bands < 1 or 64 % n_bands:
        raise ValueError(f"n_bands ({n_bands}) must divide 64")
    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            f"{name} ({max_hamming}) must be >= 0 and < n_bands "
            f"({n_bands}) for recall-complete banding; raise n_bands "
            "instead"
        )


def hamming_band_keys(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    n_bands: int,
    max_hamming: int,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id, hash, bk) Manku combination-key decomposition of a 64-bit hash
    column — the one band-key form of every Hamming join: the batch
    self-join (``_hamming_band_edges``), the tile join and the probe join
    (``hamming_probe_pairs``).  Keys are pure integer column expressions
    (28 shift/or ops per row for m=8, k=6), so history can be re-keyed
    in-task from stored hashes — no band table to persist.

    The combo index is folded into the key's high bits, so each row
    carries ONE int64 bucket column ``bk`` and the exchanges shuffle a
    single 8-byte key instead of a (band, key) struct.  A/B at 400k
    images against the (band, key) form: identical 109,762-edge output,
    join wall −30% at local[8] (11.17 → 7.80 s) and −23% at local[32]
    (10.86 → 8.41 s), min of 3 alternating reps.

    Raises ``ValueError`` unless ``0 <= max_hamming < n_bands``
    (``check_hamming_radius``)."""
    import itertools

    check_hamming_radius(n_bands, max_hamming)
    m = n_bands
    c = m - max_hamming  # blocks per key
    width = 64 // m
    mask = (1 << width) - 1
    key_width = c * width  # bits of the concatenated-block key
    n_combos = sum(1 for _ in itertools.combinations(range(m), c))
    # the combo index folds in ABOVE the key bits of one signed int64
    # (at max_hamming == 0 there is a single combo and nothing to fold)
    assert (n_combos - 1) << key_width <= (1 << 63) - 1, (
        f"fused band key overflows int64: {n_combos} combos above "
        f"{key_width} key bits"
    )
    # The combo-key expressions are generated as ONE SQL string instead of
    # per-op Column calls: the C(m, c) keys cost ~350 py4j round-trips in
    # Column form (~0.4 s of driver-serial DAG construction per call at
    # 56 µs/call — measured, r7) vs one expr() parse.  The parsed tree is
    # the same shift/and/or expression per key, so results are identical.
    h = f"`{hash_col}`"

    def block_sql(i: int) -> str:
        return f"(shiftrightunsigned({h}, {i * width}) & {mask})"

    combined = []
    for ci, combo in enumerate(itertools.combinations(range(m), c)):
        key = "CAST(0 AS BIGINT)"
        for j, blk in enumerate(combo):
            key = f"({key} | shiftleft({block_sql(blk)}, {j * width}))"
        # injective because key < 2^key_width (ci == 0 ORs to a no-op)
        if ci:
            key = f"({key} | {ci << key_width}L)"
        combined.append(key)

    return df.select(
        F.col(id_col).alias("id"),
        F.col(hash_col),
        *(carry_cols or []),
        F.expr(f"explode(array({', '.join(combined)}))").alias("bk"),
    )


def hamming_probe_pairs(
    left: DataFrame,
    right: DataFrame,
    hash_col: str,
    n_bands: int,
    max_hamming: int,
) -> DataFrame:
    """Distinct (``l_id``, ``r_id``, ``dist``) for every ``left`` row and
    ``right`` row within Hamming ``max_hamming`` — the probe join of one
    (``id``, ``hash_col``) frame against another, used by
    ``decontaminate_images`` and the image stream sink's new x history
    leg.  Both sides are keyed by ``hamming_band_keys``, equi-joined on
    ``bk`` and verified by ``bit_count``.  Callers pick the join
    strategy: a ``F.broadcast`` hint on an input survives the key
    projection and explode.  Raises ``ValueError`` unless
    ``0 <= max_hamming < n_bands``."""
    lk = hamming_band_keys(left, "id", hash_col, n_bands, max_hamming)
    rk = hamming_band_keys(right, "id", hash_col, n_bands, max_hamming)
    dist = F.bit_count(F.col("_lh").bitwiseXOR(F.col("_rh")))
    return (
        lk.select(F.col("id").alias("l_id"), F.col(hash_col).alias("_lh"), "bk")
        .join(
            rk.select(
                F.col("id").alias("r_id"), F.col(hash_col).alias("_rh"), "bk"
            ),
            "bk",
        )
        .filter(dist <= F.lit(max_hamming))
        .select("l_id", "r_id", dist.alias("dist"))
        .distinct()
    )


def degree_cap_edges(
    edges: DataFrame, cap: int, dist_col: str = "dist"
) -> DataFrame:
    """Sparsify an undirected similarity-edge set to each node's ``cap``
    nearest neighbors (by ``dist_col`` ascending, ties by neighbor id); an
    edge survives if EITHER endpoint ranks it inside its cap — the
    union-of-kNN graph.

    This is the density-adaptive scale control for fixed-radius Hamming
    joins: a radius that is right for twin recall admits quadratically
    growing background pairs as the corpus grows (birthday effect on
    structured hashes — measured ×7.1 edges for ×4 images at radius 6,
    BENCH.md sf1 image row), while the capped graph is ≤ cap·N edges by
    construction.  Genuine duplicates are each other's nearest neighbors,
    so they out-rank background pairs and survive; connectivity of
    duplicate groups is preserved because every member keeps its closest
    ``cap`` peers (ties broken deterministically by id).

    Scope: this control linearizes the DENSE regime — true-dup cliques
    (boilerplate / black images) whose members all pass any verify tier.
    It does NOT bind on DIFFUSE background growth (measured: 782,033 of
    782,048 edges survive cap=8 at 1.6M images, because mean degree is
    ~1) — that regime is handled by the independent-digest tier-2 verify
    (``phash_verify_max_hamming``), and the two compose.  Measured from
    400k to 1.6M images at radius 6: uncapped 109,762 -> 782,048 edges
    (x7.12), tier-2 at k2=8 80,584 -> 328,810 (x4.08), planted-twin
    recall 1.0 in every variant.

    Cost: one window sort over the DIRECTED edge list partitioned by node
    (2·E rows — edge-set scale, far below corpus scale); survivors are
    re-emitted from the directed list itself (all edge columns ride
    along), so the input is referenced twice, never three times — callers
    with an expensive upstream should persist/checkpoint it first
    (``_hamming_band_edges`` does).
    """
    if cap < 1:
        raise ValueError(f"degree cap must be >= 1, got {cap}")
    fwd = edges.withColumn("node", F.col("a_id")).withColumn(
        "other", F.col("b_id")
    )
    rev = edges.withColumn("node", F.col("b_id")).withColumn(
        "other", F.col("a_id")
    )
    w = Window.partitionBy("node").orderBy(
        F.col(dist_col).asc(), F.col("other").asc()
    )
    return (
        fwd.unionByName(rev)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("node", "other", "rn")
        .dropDuplicates(["a_id", "b_id"])
    )


def _hamming_band_edges(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    n_bands: int,
    max_hamming: int,
    source: str,
    max_bucket_size: int = 100_000,
    degree_cap: int | None = None,
    verify2: tuple[str, int] | None = None,
) -> DataFrame:
    """Hamming similarity equi-join with guaranteed recall
    (Manku/Jain/Sarma-style permute-and-split, WWW'07 simhash dedup).

    Split the 64-bit hash into ``m = n_bands`` blocks.  A pair within
    Hamming distance ``k = max_hamming`` differs in at most k blocks, so it
    agrees on at least ``c = m - k`` blocks — hence it shares at least one
    of the C(m, c) concatenated c-block keys (pigeonhole).  Joining on
    (combo_id, concatenated-key) therefore has 100% recall, while the keys
    are ``c * 64/m`` bits wide — wide enough that bucket sizes stay ~uniform
    even at 10^12 rows (naive 1-block bands of 64/m bits explode: bucket
    size scales as |D| / 2^(64/m)).

    Verification is JVM-side ``bit_count(a ^ b) <= k`` — no Python.

    ``verify2=(col, k2)`` adds a SECOND-tier verify on an independent
    stored digest column: survivors must also satisfy
    ``bit_count(a.col ^ b.col) <= k2``.  The 8-byte digest rides the same
    bucket struct (no extra join, no extra exchange) — this is the
    density control for DIFFUSE background growth at fixed radius: random
    tier-1 near-collisions have ~32-bit distance on an independent digest
    and die, so background edge volume goes from quadratic to ~zero while
    true duplicates (close in every pixel-derived digest) keep passing.

    Raises ``ValueError`` unless ``0 <= max_hamming < n_bands``, before
    the (id, hash) index is persisted.
    """
    check_hamming_radius(n_bands, max_hamming)
    v2_col, v2_k = verify2 if verify2 is not None else (None, None)

    # r7 plan: HASH-VALUE pair discovery, then an id join-back.
    #
    # The quadratic stage (bucket collect + double-explode + bit_count)
    # used to carry struct(id string, hash) members, so every one of the
    # ~n²-per-bucket generated rows copied two id strings before the
    # distance filter could kill it.  Pair admission depends ONLY on the
    # two hash values, so phase 1 now runs on bare 8-byte hashes (bands
    # ship (bk, hash) — 16-byte rows, no strings anywhere) and emits the
    # DISTINCT (ha <= hb) hash pairs within radius; phase 2 maps hash
    # pairs back to id pairs through a broadcast (id, hash[, digest])
    # index and re-canonicalizes on ids.  Equal-hash pairs (ha == hb)
    # expand to C(n_ids, 2) id pairs via the same cross join.  Measured
    # at 400k images / 11.2M band rows: 5.0-5.5 s -> 4.4-4.7 s at
    # local[32], byte-identical edge set (exceptAll both ways = 0).
    #
    # Phase-1 notes (unchanged semantics): singleton buckets drop at the
    # size filter; mega-buckets beyond ``max_bucket_size`` members drop
    # too (quadratic-pair protection; null-hash rows no longer count
    # toward the member cap — they could never produce pairs).  The
    # ObjectHashAggregate sort fallback is fine here (raising its
    # threshold to 1M keys measured SLOWER, 4.8 vs 4.4 s — recorded).
    #
    # Scale note: the (id, hash) index projection is persisted narrow
    # (~16 B + id per row) so single-reference callers don't recompute
    # their input for the join-back; the index broadcast is right up to
    # ~10^8 rows.  Beyond broadcast scale flip the hint to the hash-pair
    # side (bounded by edge volume, always small) — the corpus-side
    # index then streams through two BroadcastHashJoins instead.
    from pyspark import StorageLevel

    proj_cols = [F.col(id_col).alias("id"), F.col(hash_col)] + (
        [F.col(v2_col)] if v2_col else []
    )
    idx = df.select(*proj_cols).persist(StorageLevel.MEMORY_AND_DISK)

    bands = hamming_band_keys(
        idx, "id", hash_col, n_bands, max_hamming
    ).select("bk", hash_col)
    grouped = (
        bands.groupBy("bk")
        .agg(F.collect_list(hash_col).alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket_size))
    )
    # upper-triangle generation: pair position i with the slice AFTER it,
    # so each unordered position pair is generated ONCE (the plain
    # explode x explode form generates n² ordered rows and filters half
    # away — measured ~10% of the join wall at 400k images; canonical
    # (least, greatest) orientation keeps the emitted set identical)
    hp = (
        grouped.select(F.posexplode("ms").alias("i", "ha"), "ms")
        .select(
            "ha",
            F.explode(
                F.slice("ms", F.col("i") + 2, F.size("ms"))
            ).alias("hb"),
        )
        .withColumn(
            "dist", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .filter(F.col("dist") <= F.lit(max_hamming))
        .select(
            F.least("ha", "hb").alias("ha"),
            F.greatest("ha", "hb").alias("hb"),
            "dist",
        )
        .dropDuplicates(["ha", "hb"])
    )

    # both join-backs broadcast the SAME plan (no per-side projection), so
    # ReuseExchange ships one broadcast, not two — measured at q3 scale
    # the second broadcast job was pure fixed latency
    ba = F.broadcast(idx).alias("A")
    bb = F.broadcast(idx).alias("B")
    pairs = (
        hp.join(ba, F.col("ha") == F.col(f"A.{hash_col}"))
        .join(bb, F.col("hb") == F.col(f"B.{hash_col}"))
        .filter(F.col("A.id") != F.col("B.id"))
    )
    if v2_col:
        pairs = pairs.filter(
            F.bit_count(
                F.col(f"A.{v2_col}").bitwiseXOR(F.col(f"B.{v2_col}"))
            )
            <= F.lit(v2_k)
        )
    pairs = (
        pairs.select(
            F.least("A.id", "B.id").alias("a_id"),
            F.greatest("A.id", "B.id").alias("b_id"),
            "dist",
        )
        # dist is a pure function of the pair's two hashes, so keeping it
        # through the pair-dedup stays deterministic across band buckets
        .dropDuplicates(["a_id", "b_id"])
    )
    if degree_cap is not None:
        # the capped pass reads the edge set twice (forward + reverse
        # direction); cut the lineage so the band join runs ONCE
        pairs = degree_cap_edges(
            pairs.localCheckpoint(eager=False), degree_cap, "dist"
        )
    return pairs.drop("dist").withColumn("source", F.lit(source))


def simhash_band_edges(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """8 blocks, c = 8-k block combos per key: guaranteed recall for
    Hamming <= cfg.simhash_max_hamming with ~40-bit join keys."""
    return _hamming_band_edges(
        sig_df, "id", "simhash", 8, cfg.simhash_max_hamming, "simhash",
        cfg.max_bucket_size,
    )


def phash_band_edges(
    images_df: DataFrame, cfg: DedupConfig, id_col: str = "image_id",
    phash_col: str = "phash", verify_col: str | None = None,
    source: str = "phash",
) -> DataFrame:
    """8 blocks, c = 8-k block combos per key: guaranteed recall for
    Hamming <= cfg.phash_max_hamming (default 6 -> C(8,2)=28 16-bit keys).

    Two composable density controls for the fixed-radius scale problem
    (background edges measured ×7.1 for ×4 images, BENCH.md):

    * ``verify_col`` — an independent stored digest column (``dhash64``);
      pairs must also be within ``cfg.phash_verify_max_hamming`` on it.
      Kills DIFFUSE random near-collisions (the dominant regime).
    * ``cfg.phash_degree_cap`` — nearest-neighbor sparsification; bounds
      DENSE true-dup cliques that pass every digest (boilerplate).

    Both default off: the bare radius semantics stay the oracle path
    (`image_dedup_suite` 'hamming' section hash-exact)."""
    return _hamming_band_edges(
        images_df, id_col, phash_col, 8, cfg.phash_max_hamming, source,
        cfg.max_bucket_size, degree_cap=cfg.phash_degree_cap,
        verify2=(verify_col, cfg.phash_verify_max_hamming)
        if verify_col else None,
    )


def ngram_jaccard_pairs(
    sig_df: DataFrame, threshold: float = 0.6, threshold_pct: int | None = None
) -> DataFrame:
    """EXACT n-gram Jaccard pair join via shingle inverted index.

    This is the exact form of the trigram filter
    (`Sources/FuzzyMatch/Trigrams.swift:161-177`) as a relational plan: a
    pair with Jaccard > 0 shares >= 1 shingle, so the equi-join on exploded
    shingles has 100% candidate recall; the groupBy count IS the exact
    intersection size.  The threshold compare is integer-only
    (``100*inter >= pct*(na+nb-inter)``) — bit-identical across engines.

    Scale note: exact inverted-index joins explode on hot shingles; at
    10^12 rows use ``minhash_band_edges`` (probabilistic, bounded) or add
    prefix filtering — this operator is the correctness oracle / small-table
    path.  Everything here is JVM-side (no Python).
    """
    pct = threshold_pct if threshold_pct is not None else int(round(threshold * 100))
    grams = sig_df.select("id", F.explode("shingles").alias("g"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, on="g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count("*").alias("inter"))
    )
    sizes = sig_df.select(F.col("id"), F.col("n_shingles").cast("long").alias("n"))
    return (
        inter.join(sizes.withColumnRenamed("id", "a_id")
                   .withColumnRenamed("n", "na"), on="a_id")
        .join(sizes.withColumnRenamed("id", "b_id")
              .withColumnRenamed("n", "nb"), on="b_id")
        .filter(
            F.lit(100) * F.col("inter")
            >= F.lit(pct) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select("a_id", "b_id", F.col("inter").cast("long").alias("inter"),
                "na", "nb")
    )


def ngram_jaccard_prefix_pairs(
    sig_df: DataFrame, threshold: float = 0.6, threshold_pct: int | None = None
) -> DataFrame:
    """EXACT n-gram Jaccard pair join with PPJoin-style PREFIX FILTERING
    (Xiao et al., WWW'08) — the 10^12-row scale path for exact (non-LSH)
    Jaccard dedup.

    Prefix principle: under ANY global total order on shingles, two sets
    with Jaccard >= t must share at least one element among each set's
    first ``|x| - ceil(t*|x|) + 1`` elements — so exploding ONLY that
    prefix keeps 100% recall while shrinking the inverted index by ~t.
    Measured candidate cut: 9.9x at t=0.9 on a shingle-diverse corpus
    (2,000 random 80-char docs + 50 planted near-dups); only 1.2x on the
    driver's adversarially dense corpus (31-token vocabulary ⇒ tiny
    shingle universe, prefixes collide regardless of order) — prefix
    filtering pays in proportion to shingle diversity, which real corpora
    have.  The canonical order here is shingle value (``array_sort``); a
    frequency-ascending order would shrink candidates further at the cost
    of a frequency table.

    Survivors are verified EXACTLY via ``array_intersect`` on the stored
    distinct-shingle arrays with the same integer threshold compare as
    ``ngram_jaccard_pairs`` — output is the identical pair set, so the
    same relational oracle applies.  Everything is JVM-side.
    """
    pct = threshold_pct if threshold_pct is not None else int(round(threshold * 100))
    n = F.size("shingles")
    # prefix length |x| - ceil(pct*|x|/100) + 1 (integer ceil)
    plen = (n - F.floor((F.lit(pct) * n + 99) / 100) + 1).cast("int")
    prefixes = sig_df.select(
        "id",
        F.explode(F.slice(F.array_sort("shingles"), 1, plen)).alias("g"),
    )
    cand = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), on="g")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    s = sig_df.select(
        "id", "shingles", F.col("n_shingles").cast("long").alias("n")
    )
    a = s.select(F.col("id").alias("a_id"), F.col("shingles").alias("a_sh"),
                 F.col("n").alias("na"))
    b = s.select(F.col("id").alias("b_id"), F.col("shingles").alias("b_sh"),
                 F.col("n").alias("nb"))
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("long")
    return (
        cand.join(a, on="a_id").join(b, on="b_id")
        .withColumn("inter", inter)
        .filter(
            F.lit(100) * F.col("inter")
            >= F.lit(pct) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select("a_id", "b_id", "inter", "na", "nb")
    )


def verify_edges(
    edges: DataFrame, sig_df: DataFrame, cfg: DedupConfig | None = None
) -> DataFrame:
    """Verify candidate pairs; keep edges with score >= cfg.min_score.

    Two-tier verification, cheap->expensive like the reference's cascade
    (`Sources/FuzzyMatch/Prefilters.swift:20-27`):

    1. JVM tier (all pairs): exact trigram Jaccard via
       ``size(array_intersect(shingles_a, shingles_b))`` on the stored
       distinct-shingle arrays, plus exact-text detection via
       ``xxhash64(caption_norm)`` equality — whole-stage codegen, no Python,
       no string payloads in the wide join.
    2. Python tier (narrow subset): the banded DL kernel runs ONLY where it
       can change the verdict — not byte-equal, Jaccard below threshold,
       shorter side <= dl_max_len, and the reference's q-gram count bound
       (`Trigrams.swift:161-177`) admits a distance within budget.  Strings
       are joined in for just this subset.

    The tier-2 fraction is THRESHOLD-DEPENDENT (measured at sf0.1 on the
    dense corpus): 639 of 2.0M candidates (0.03%) under the web_dense
    profile (min_score 0.9 — the tight q-gram budget closes the gate),
    but 1.89M of 10.6M (18%) under the recall-oriented default
    (min_score 0.75, where 3*max_ed approaches the shingle count and the
    bound admits most band-colliding pairs).  Profile choice, not the
    kernel, decides whether verify is JVM-bound or Python-bound — size
    Python worker capacity accordingly when lowering min_score.
    """
    cfg = cfg or DedupConfig()
    thr = float(cfg.min_score)
    # SQL-string expression blocks (selectExpr = one py4j round trip per
    # stage): the withColumn-chained Column form of this function cost
    # ~0.3 s of driver-serial DAG construction per call (measured, r7)
    # for an identical parsed tree.  Float literals use repr() + the D
    # suffix so the embedded doubles are bit-exact (e.g. 1.0 - 0.9 ->
    # 0.09999999999999998D, the same double the Python arithmetic fed the
    # old lit()).
    thr_s = f"{thr!r}D"
    one_minus_thr_s = f"{(1.0 - thr)!r}D"

    s = sig_df.selectExpr(
        "id",
        "caption_norm",
        "shingles",
        "CAST(n_shingles AS BIGINT) AS nsh",
        "xxhash64(caption_norm) AS nh",
        "CAST(length(caption_norm) AS BIGINT) AS nlen",
    )
    a = s.selectExpr(
        "id AS a_id", "shingles AS a_sh", "nsh AS a_nsh",
        "nh AS a_nh", "nlen AS a_len",
    )
    b = s.selectExpr(
        "id AS b_id", "shingles AS b_sh", "nsh AS b_nsh",
        "nh AS b_nh", "nlen AS b_len",
    )
    j = edges.join(a, on="a_id").join(b, on="b_id")

    tier1 = (
        j.selectExpr(
            "*",
            "CAST(size(array_intersect(a_sh, b_sh)) AS BIGINT) AS inter",
            "(a_nh = b_nh AND a_len = b_len) AS is_exact",
            "greatest(least(a_len, b_len), 1) AS qlen",
        )
        .selectExpr(
            "*",
            "CASE WHEN is_exact THEN 1.0D ELSE "
            "CASE WHEN (a_nsh + b_nsh - inter) > 0 "
            "THEN inter / (a_nsh + b_nsh - inter) ELSE 0.0D END END"
            " AS jaccard",
            f"CAST(floor({one_minus_thr_s} * qlen) AS BIGINT) AS max_ed",
        )
        .selectExpr(
            "a_id", "b_id", "source", "a_len", "b_len", "inter",
            "is_exact", "jaccard", "qlen", "max_ed",
            f"((NOT is_exact) AND jaccard < {thr_s} "
            f"AND qlen <= {int(cfg.dl_max_len)} "
            "AND inter >= "
            "(CASE WHEN a_len <= b_len THEN a_nsh ELSE b_nsh END)"
            " - 3 * max_ed) AS need_dl",
        )
    )
    # tier1 feeds two consumers (the jaccard-only branch and the DL branch);
    # without materialization each branch would recompute the entire
    # candidate-generation DAG.  It is narrow (ids + scalars) — in the
    # staged pipeline this is a checkpoint table; here MEMORY_AND_DISK.
    # Only SURVIVABLE rows are cached (r7): a pair that is not exact, has
    # jaccard below threshold AND fails the DL gate is dropped by the
    # final score filter no matter what — pre-filtering it here shrinks
    # the cached table (~2M -> ~950k rows on the dense corpus) and every
    # downstream scan of it, with identical output by construction.
    from pyspark import StorageLevel

    tier1 = tier1.filter(
        F.col("is_exact")
        | (F.col("jaccard") >= F.lit(thr))
        | F.col("need_dl")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    cols = ["a_id", "b_id", "source", "is_exact", "jaccard", "dl_dist", "dl_sim"]
    easy = tier1.filter("NOT need_dl").selectExpr(
        *cols[:5], "-1 AS dl_dist", "0.0D AS dl_sim"
    )

    norms = sig_df.select("id", "caption_norm")
    dl_in = (
        tier1.filter("need_dl")
        .join(norms.selectExpr("id AS a_id", "caption_norm AS a_norm"),
              on="a_id")
        .join(norms.selectExpr("id AS b_id", "caption_norm AS b_norm"),
              on="b_id")
    )
    dl = make_dl_udf(thr)
    hard = dl_in.withColumn(
        "_d", dl(F.col("a_norm"), F.col("b_norm"))
    ).selectExpr(
        *cols[:5], "_d.dl_dist AS dl_dist", "_d.dl_sim AS dl_sim"
    )

    scored = easy.unionByName(hard)
    out = (
        scored.selectExpr(
            "a_id", "b_id", "source", "jaccard", "dl_dist", "dl_sim",
            "CASE WHEN is_exact THEN 1.0D "
            "ELSE greatest(jaccard, dl_sim) END AS score",
            "CASE WHEN is_exact THEN 'exact' "
            "WHEN dl_sim > jaccard THEN 'substring' "
            "ELSE 'jaccard' END AS kind",
        )
        .filter(f"score >= {thr_s}")
    )
    # persist the SCORED output too (r7): repeated consumers (or repeated
    # bench passes — Spark's CacheManager plan-matches across calls) then
    # skip the easy/hard branch recompute entirely, not just the
    # candidate DAG.  ~80 MB at sf0.1; measured −1.0 s on the warm q1
    # wall (level-1 fold job 1.3-1.5 s -> scan-only).
    return out.persist(StorageLevel.MEMORY_AND_DISK)


def candidate_edges(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Union of all candidate sources, deduplicated (SURVEY.md §2.8).

    SimHash banding is gated by ``cfg.simhash_candidates`` (default off):
    on the dense corpus it duplicates MinHash's coverage almost exactly
    (see the config field's measured numbers) while exploding 7x more band
    rows per doc — candidate generation is q1's dominant cost, so the
    default spends that budget only on sources that add recall.
    """
    exact = exact_dup_edges(sig_df)
    mh = minhash_band_edges(sig_df, cfg)
    all_edges = exact.unionByName(mh)
    if cfg.simhash_candidates:
        all_edges = all_edges.unionByName(simhash_band_edges(sig_df, cfg))
    return (
        all_edges.groupBy("a_id", "b_id")
        .agg(F.min("source").alias("source"))
    )


def dedup_tier_waterfall(
    edges_df: DataFrame,
    tier_col: str = "tier_rank",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Per-tier marginal-contribution analytics for a multi-tier dedup
    ladder (the tuning question every tiered pipeline has to answer:
    which tier is paying for its cost?).

    Input: a unioned candidate-edge table where ``tier_col`` is the
    ladder position (0 = first / cheapest tier).  Pairs need not be
    unique across tiers — that overlap is exactly what is measured.
    Pair orientation must already be canonical (a < b), which every
    edge source in this module guarantees.

    Output, one row per tier rank present in the ladder:

    * ``total_pairs``    — distinct pairs this tier catches on its own.
    * ``marginal_pairs`` — pairs whose MINIMUM catching rank is this
      tier: what the tier adds beyond every tier before it.  Summing
      marginal_pairs over tiers gives the distinct pair total.
    * ``new_ids``        — ids first touched by an edge at this tier
      (node-level marginal reach; an id counts once, at its min rank).

    Scale shape: one exchange keyed on the (a, b) pair and one keyed on
    the id — both min/count aggregations with map-side partial combine,
    so the shuffle carries at most one row per distinct (pair, tier) /
    (id, tier).  The three per-tier summaries are O(n_tiers) rows and
    join broadcast-style.  Nothing is collected; output is O(n_tiers).

    The same analytics answer the DECONTAMINATION-ladder question (which
    screen tier uniquely catches what) with zero new machinery: feed the
    per-tier FLAG rows as self-edges —
    ``dedup_tier_waterfall(flags.select(tier, id AS a_id, id AS b_id))``
    — and ``total_pairs`` reads as docs flagged per tier,
    ``marginal_pairs`` (= ``new_ids``) as docs whose CHEAPEST catching
    tier is that one (pinned by test_decon_tier_waterfall_pattern).
    """
    t = F.col(tier_col).cast("int").alias("tier_rank")
    tiers = edges_df.select(t, a_col, b_col).distinct()

    totals = tiers.groupBy("tier_rank").agg(
        F.count(F.lit(1)).alias("total_pairs")
    )
    marginal = (
        tiers.groupBy(a_col, b_col)
        .agg(F.min("tier_rank").alias("tier_rank"))
        .groupBy("tier_rank")
        .agg(F.count(F.lit(1)).alias("marginal_pairs"))
    )
    new_ids = (
        tiers.select(
            "tier_rank",
            F.explode(F.array(F.col(a_col), F.col(b_col))).alias("id"),
        )
        .groupBy("id")
        .agg(F.min("tier_rank").alias("tier_rank"))
        .groupBy("tier_rank")
        .agg(F.count(F.lit(1)).alias("new_ids"))
    )
    return (
        totals.join(marginal, "tier_rank", "left")
        .join(new_ids, "tier_rank", "left")
        .select(
            "tier_rank",
            "total_pairs",
            F.coalesce("marginal_pairs", F.lit(0)).alias("marginal_pairs"),
            F.coalesce("new_ids", F.lit(0)).alias("new_ids"),
        )
    )
