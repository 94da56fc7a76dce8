"""Incremental ingest via Structured Streaming: one micro-batch skeleton.

The reference has no incremental surface (SURVEY.md §1.3) and the north rule
is a batch pipeline with checkpoint/resume — but a 10^12-row corpus is not
re-signed from scratch when new shards land.  Every incremental surface
here is the same three pieces:

    run_sink_stream   new parquet files in a landing directory
                        -> readStream (the file source records processed
                           files in the stream checkpoint: each file once)
                        -> foreachBatch(sink)
    make_*_sink       the per-batch work; history is read only through
                      ``read_committed(..., below=batch_id)``
    _commit_batch     the one commit protocol the table-writing sinks end
                      with

The sinks: ``make_signature_sink`` (signature rows only),
``make_dedup_sink`` (caption LSH dedup), ``make_phash_dedup_sink`` (image
pHash dedup, optional benchmark screen) and ``make_decontamination_sink``
(in-flight benchmark gate).  Each is a plain ``(batch_df, batch_id)``
callable, so a replay is testable by calling it twice.  LSH band keys are
per-row, so new rows generate candidate pairs only against the stored
buckets of committed rows — the standard incremental-LSH pattern.

Idempotency model (``_commit_batch``): ``foreachBatch`` is AT-LEAST-once
(a crash between the sink and the stream-checkpoint commit replays the
batch under the SAME batch_id), so every write is scoped to its batch —
``<table>/batch=<id>`` written with mode("overwrite"), then the dedup
sinks' ``labels/`` delta — and a per-batch commit marker under
``_commits/<id>`` is created LAST through the Hadoop FS API (works on
HDFS/S3, not just the local FS).  A replay overwrites its own partitions
with identical content and re-creates the marker; history reads, and
readers that must not observe an in-flight batch, use ``read_committed``.
The signature sink writes its one table without a marker.  What a sink
persists for a batch is held by ``_batch_cache`` and released when the
batch ends, also when a write or the fault hook raises.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from fuzzymatch_spark.config import DedupConfig
from fuzzymatch_spark.operators.dedup import compute_signatures


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def committed_batches(spark: SparkSession, commits_dir: str) -> list[int]:
    """Batch ids with a commit marker, ascending (Hadoop FS — portable)."""
    fs, d, _ = _hadoop_fs(spark, commits_dir)
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.isdigit():
            out.append(int(name))
    return sorted(out)


def _committed(
    spark: SparkSession, work_dir: str, below: int | None = None
) -> list[int]:
    """Committed batch ids of ``work_dir``, only those < ``below`` if set."""
    commits = committed_batches(spark, os.path.join(work_dir, "_commits"))
    return [b for b in commits if below is None or b < below]


def read_committed(
    spark: SparkSession, work_dir: str, table: str, below: int | None = None
) -> DataFrame | None:
    """Read ONLY the committed batch partitions of a ``work_dir`` table,
    one explicit path per batch; None when no batch qualifies.  ``below``
    keeps the batches < it: a sink's history, so a replay sees exactly
    the pre-batch state."""
    paths = [
        os.path.join(work_dir, table, f"batch={b}")
        for b in _committed(spark, work_dir, below)
    ]
    return spark.read.parquet(*paths) if paths else None


def current_labels(
    spark: SparkSession, work_dir: str, upto_batch: int | None = None
) -> DataFrame | None:
    """Latest-wins view over the incremental ``labels/`` delta table:
    (id, label) with each id's row taken from the highest committed batch
    that mentions it.  ``upto_batch`` restricts history to batches BELOW
    it (the view a replaying sink must see).  None when nothing committed.

    The delta table is LSM-shaped: each batch writes only labels that
    changed (new ids + members of touched components), so the view is a
    single ``max_by`` aggregation over delta rows — compaction (rewriting
    the folded view and truncating deltas) is a trivial maintenance job
    when delta volume warrants it.
    """
    labels_dir = os.path.join(work_dir, "labels")
    commits = _committed(spark, work_dir, upto_batch)
    comp = _latest_compacted(spark, labels_dir)
    if comp is not None and (upto_batch is None or comp[0] <= upto_batch):
        # the compacted view folds every delta BELOW its cover point; any
        # older delta dir still on disk is a leftover from a compaction
        # interrupted mid-cleanup and must be ignored (its content is a
        # subset of the compacted view, but reading it would double-scan)
        delta_batches = [b for b in commits if b >= comp[0]]
    else:
        comp = None
        delta_batches = commits
    paths = [os.path.join(labels_dir, f"batch={b}") for b in delta_batches]
    paths = [p for p in paths if os.path.isdir(p) or _hdfs_exists(spark, p)]
    if not paths and comp is None:
        return None
    from pyspark.sql import functions as F

    parts = []
    if paths:
        parts.append(spark.read.option("basePath", labels_dir).parquet(*paths))
    if comp is not None:
        # covers batches < C, so it sorts below every live delta in the
        # latest-wins fold (ties with a leftover delta carry equal labels)
        parts.append(
            spark.read.parquet(comp[1])
            .select("id", "label")
            .withColumn("batch", F.lit(comp[0] - 1))
        )
    df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return df.groupBy("id").agg(F.max_by("label", "batch").alias("label"))


def _hdfs_exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def _latest_compacted(spark: SparkSession, labels_dir: str):
    """Highest committed ``compacted=C`` dir under ``labels/`` (the folded
    view of every delta batch < C), or None.  The dir RENAME is the
    compaction commit point, so existence == committed."""
    fs, p, _ = _hadoop_fs(spark, labels_dir)
    if not fs.exists(p):
        return None
    best = None
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("compacted="):
            c = int(name.split("=", 1)[1])
            if best is None or c > best[0]:
                best = (c, os.path.join(labels_dir, name))
    return best


def compact_labels(spark: SparkSession, work_dir: str) -> int:
    """LSM maintenance for the incremental ``labels/`` delta table: fold
    every delta batch STRICTLY BELOW the highest commit into a
    ``labels/compacted=<top>`` dir, then drop the folded deltas (and any
    older compacted view).  ``current_labels`` is unchanged by
    construction, and its read cost drops from O(sum of delta sizes) to
    O(distinct ids) + the top delta.

    The top batch's delta is deliberately NOT folded: ``foreachBatch`` is
    at-least-once, and the one batch a restarted stream can replay is the
    highest committed one — its sink pass rewrites ``labels/batch=<top>``
    (mode overwrite) and reads history via ``current_labels(upto_batch=
    top)``, both of which must still see exactly the pre-batch state.
    Folding top into the view a replay then overwrites would lose every
    label the replay doesn't re-emit.

    Crash-safe ordering: the folded view is written to a temp dir, the
    RENAME to ``compacted=<top>`` is the atomic commit point, and source
    deltas are deleted only after it.  A crash before the rename leaves
    the original deltas (plus a dead temp dir the next run overwrites); a
    crash after it leaves leftover deltas below the cover point, which
    ``current_labels`` ignores by construction and the next compaction
    call deletes.  Returns the number of delta partitions removed
    (0 = nothing to compact).
    """
    commits = _committed(spark, work_dir)
    labels_dir = os.path.join(work_dir, "labels")
    if not commits:
        return 0
    top = max(commits)
    comp = _latest_compacted(spark, labels_dir)
    fold = [
        b for b in commits
        if b < top and _hdfs_exists(spark, os.path.join(labels_dir, f"batch={b}"))
    ]
    if not fold:
        return 0

    def _delete(path: str) -> None:
        fs, p, _ = _hadoop_fs(spark, path)
        fs.delete(p, True)

    if comp is not None and comp[0] == top:
        # everything below top is already folded; ``fold`` holds only
        # leftovers from an interrupted cleanup — finish it
        for b in fold:
            _delete(os.path.join(labels_dir, f"batch={b}"))
        return len(fold)
    view = current_labels(spark, work_dir, upto_batch=top)
    tmp = os.path.join(work_dir, "_labels_compact_tmp")
    _delete(tmp)
    view.select("id", "label").write.mode("overwrite").parquet(tmp)
    fs, tmp_p, _ = _hadoop_fs(spark, tmp)
    fs.rename(
        tmp_p, _hadoop_fs(spark, os.path.join(labels_dir, f"compacted={top}"))[1]
    )
    for b in fold:
        _delete(os.path.join(labels_dir, f"batch={b}"))
    if comp is not None:
        _delete(comp[1])
    return len(fold)


def label_merge_delta(
    new_edges: DataFrame,
    cur_labels: DataFrame | None,
    new_ids: DataFrame,
) -> DataFrame:
    """Localized incremental connected-components maintenance: given this
    batch's verified edges, the accumulated label view, and this batch's
    new ids, return the label DELTA (id, label) — rows for every new id
    plus every existing node whose component label changed.

    The merge runs on the LABEL graph, not the node graph: each edge
    (a, b) becomes an edge between label(a) and label(b) (a node's label
    defaulting to its own id).  Since every stored label is the min id of
    its component, CC over this contracted graph — which is micro-batch
    sized, NOT corpus sized — yields exactly the min id of each merged
    component, so the maintained labels are identical to a from-scratch
    CC over the union of all committed edges (pinned by
    tests/test_streaming_ingest.py::test_incremental_labels_match_full_cc).
    Untouched components never appear in the remap and are never
    rewritten; the only corpus-scale work is one equi-join of the label
    view against the (tiny) remap table.
    """
    from pyspark.sql import functions as F

    from fuzzymatch_spark.operators.cluster import fold_components

    e = new_edges.select("a_id", "b_id")
    if cur_labels is None:
        lg = e.select(F.col("a_id").alias("x"), F.col("b_id").alias("y"))
        cur = None
    else:
        cur = cur_labels
        cur_a = cur.select(F.col("id").alias("a_id"), F.col("label").alias("la"))
        cur_b = cur.select(F.col("id").alias("b_id"), F.col("label").alias("lb"))
        lg = (
            e.join(cur_a, "a_id", "left")
            .join(cur_b, "b_id", "left")
            .select(
                F.coalesce("la", F.col("a_id")).alias("x"),
                F.coalesce("lb", F.col("b_id")).alias("y"),
            )
        )
    lg = lg.filter(F.col("x") != F.col("y"))
    # fold CC: the contracted label graph is micro-batch sized, exactly
    # the regime where the fold's two jobs beat the iterative strategies'
    # per-round driver latency (labels identical — same min-id contract)
    merged = fold_components(lg, "x", "y")
    remap = merged.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("old_label"), F.col("cluster_id").alias("new_label")
    )
    delta_new = (
        new_ids.select("id")
        .join(remap, F.col("id") == F.col("old_label"), "left")
        .select("id", F.coalesce("new_label", F.col("id")).alias("label"))
    )
    if cur is None:
        return delta_new
    delta_old = cur.join(
        remap, cur["label"] == remap["old_label"]
    ).select("id", F.col("new_label").alias("label"))
    return delta_new.unionByName(delta_old)


@contextmanager
def _batch_cache():
    """Persist scope of one micro-batch: each frame passed to the yielded
    ``keep`` is persisted, and unpersisted when the batch ends — also when
    a write or ``on_before_commit`` raises."""
    held: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return held[-1]

    try:
        yield keep
    finally:
        for df in held:
            df.unpersist()


def _commit_batch(
    spark: SparkSession,
    work_dir: str,
    batch_id: int,
    tables: dict[str, DataFrame],
    new_ids: DataFrame | None = None,
    on_before_commit=None,
) -> None:
    """The commit protocol of every table-writing sink, in this order:

      1. each ``tables`` entry overwrites ``<work_dir>/<name>/batch=<id>``
         (dict order);
      2. with ``new_ids`` (the batch's surviving ids): the ``labels/``
         delta of the just-written ``edges`` partition against the label
         view of the committed batches BELOW this one
         (``label_merge_delta``), so a replay reproduces it;
      3. ``on_before_commit(batch_id)`` — the fault-injection hook, run in
         the exact window the design exists for (data written, batch
         uncommitted);
      4. the ``_commits/<id>`` marker, LAST.
    """
    def part(name: str) -> str:
        return os.path.join(work_dir, name, f"batch={batch_id}")

    for name, df in tables.items():
        df.write.mode("overwrite").parquet(part(name))
    if new_ids is not None:
        label_merge_delta(
            spark.read.parquet(part("edges")),
            current_labels(spark, work_dir, upto_batch=batch_id),
            new_ids,
        ).write.mode("overwrite").parquet(part("labels"))
    if on_before_commit is not None:
        on_before_commit(batch_id)
    fs, commits, jvm = _hadoop_fs(spark, os.path.join(work_dir, "_commits"))
    fs.mkdirs(commits)
    fs.create(jvm.org.apache.hadoop.fs.Path(commits, str(batch_id)), True).close()


def run_sink_stream(
    spark: SparkSession,
    input_dir: str,
    schema: StructType | str,
    checkpoint_dir: str,
    sink,
    available_now: bool = True,
):
    """Feed the new parquet files of ``input_dir`` to ``sink`` (one of the
    ``make_*_sink`` callables) through ``foreachBatch``, at most 32 files
    per micro-batch.

    ``available_now=True`` processes everything currently in ``input_dir``
    and stops — the batch-with-resume mode; ``False`` returns the running
    query for continuous ingest.  The stream checkpoint records processed
    files, so a rerun over the same ``checkpoint_dir`` sees only new ones.
    """
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 32)
        .parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if not available_now:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def make_signature_sink(
    output_dir: str, id_col: str, text_col: str, cfg: DedupConfig | None = None
):
    """Signature ingest: each micro-batch's rows through the batch
    pipeline's fused signature pass, overwriting ``<output_dir>/batch=<id>``
    — an at-least-once replay cannot duplicate rows, and
    ``spark.read.parquet(output_dir)`` sees the whole table.  No commit
    marker: downstream stages run as batch jobs over the directory."""
    cfg = cfg or DedupConfig()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        compute_signatures(batch_df, id_col, text_col, cfg).write.mode(
            "overwrite"
        ).parquet(f"{output_dir}/batch={batch_id}")

    return sink


def make_dedup_sink(
    spark: SparkSession,
    work_dir: str,
    id_col: str,
    text_col: str,
    cfg: DedupConfig | None = None,
    on_before_commit=None,
):
    """Incremental caption near-dup detection.  Per micro-batch of NEW
    rows:

      1. fused signature pass (same kernel as the batch pipeline)
      2. candidate edges touching >= 1 new row:
           new x new       — the batch band self-join on just the new rows
           new x existing  — new rows' band keys equi-joined against the
                             COMMITTED ``bands`` partitions (band keys of
                             old rows are stored, never recomputed)
           exact           — hash-join on (xxhash64(norm), len) new vs all
      3. two-tier verify (same verify_edges)
      4. ``_commit_batch`` of ``edges``/``signatures``/``bands``, with the
         ``labels/`` delta: the verified edges merge into the accumulated
         labels via localized CC over the CONTRACTED label graph, so
         cluster ids stay current without re-running CC over the full
         edge union; ``current_labels`` is the latest-wins view.

    History is strictly the committed batches BELOW the current id, so a
    replay after a post-marker crash sees exactly the pre-batch corpus and
    reproduces the same partition content.  ``on_before_commit`` is
    ``_commit_batch``'s fault hook.
    """
    from pyspark.sql import functions as F

    from fuzzymatch_spark.operators.dedup import (
        exact_dup_edges,
        minhash_band_edges,
        minhash_bands,
        verify_edges,
    )

    cfg = cfg or DedupConfig()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        with _batch_cache() as keep:
            new_sig = keep(compute_signatures(batch_df, id_col, text_col, cfg))
            new_bands = keep(minhash_bands(new_sig, cfg))
            cand = minhash_band_edges(new_sig, cfg).select("a_id", "b_id", "source")
            old_sig = read_committed(spark, work_dir, "signatures", below=batch_id)
            if old_sig is not None:
                old_bands = read_committed(spark, work_dir, "bands", below=batch_id)
                # the band index is folded into the 64-bit key
                # (minhash_bands hashes xxhash64(band_i, slice)), so the
                # incremental join equi-joins on the single key column —
                # the band column is pruned from both scans and the exchange
                cross = (
                    new_bands.select("id", "key").alias("n")
                    .join(old_bands.select("id", "key").alias("o"), on=["key"])
                    .filter(F.col("n.id") != F.col("o.id"))
                    .select(
                        F.least("n.id", "o.id").alias("a_id"),
                        F.greatest("n.id", "o.id").alias("b_id"),
                    )
                    .dropDuplicates(["a_id", "b_id"])
                    .withColumn("source", F.lit("minhash"))
                )
                keyed_new = new_sig.select(
                    "id", F.xxhash64("caption_norm").alias("nh"),
                    F.length("caption_norm").alias("nlen"),
                )
                keyed_old = old_sig.select(
                    "id", F.xxhash64("caption_norm").alias("nh"),
                    F.length("caption_norm").alias("nlen"),
                )
                exact_cross = (
                    keyed_new.alias("n")
                    .join(keyed_old.alias("o"), on=["nh", "nlen"])
                    .filter(F.col("n.id") != F.col("o.id"))
                    .select(
                        F.least("n.id", "o.id").alias("a_id"),
                        F.greatest("n.id", "o.id").alias("b_id"),
                    )
                    .withColumn("source", F.lit("exact"))
                )
                cand = cand.unionByName(cross).unionByName(exact_cross)
                all_sig = old_sig.unionByName(new_sig)
            else:
                all_sig = new_sig
            cand = cand.unionByName(
                exact_dup_edges(new_sig).select("a_id", "b_id", "source")
            )
            cand = cand.groupBy("a_id", "b_id").agg(F.min("source").alias("source"))
            tables = {
                "edges": verify_edges(cand, all_sig, cfg),
                "signatures": new_sig,
                "bands": new_bands,
            }
            _commit_batch(spark, work_dir, batch_id, tables,
                          new_ids=new_sig.select("id"),
                          on_before_commit=on_before_commit)

    return sink


def make_phash_dedup_sink(
    spark: SparkSession,
    work_dir: str,
    id_col: str = "image_id",
    phash_col: str = "phash",
    n_bands: int = 8,
    max_hamming: int = 6,
    on_before_commit=None,
    bench_df: DataFrame | None = None,
    decon_max_hamming: int = 6,
):
    """Image-side incremental near-dup sink — the pHash half of the north
    rule's image+caption table.  Per micro-batch of NEW rows carrying
    stored perceptual hashes:

      1. new x new — the Manku combination-key Hamming self-join
         (``_hamming_band_edges``, with its mega-bucket cap)
      2. new x history — ``operators/dedup.py:hamming_probe_pairs``, the
         probe join ``decontaminate_images`` also uses: new rows' fused
         band keys equi-joined against the COMMITTED phash partitions,
         re-keyed IN-TASK from the stored hashes (28 integer shift/or ops
         per row; no band table persisted, no shuffle on the history
         side beyond the join itself)
      3. JVM ``bit_count`` verify on both legs
      4. ``_commit_batch`` of ``edges``/``phashes`` with the ``labels/``
         delta, as ``make_dedup_sink``

    ``max_hamming`` and, with ``bench_df``, ``decon_max_hamming`` must
    satisfy ``0 <= radius < n_bands``; a bad radius raises ``ValueError``
    when the sink is built, before any batch commits.

    The hash column is generic: pass ``phash_col="cphash"`` (the stored
    dihedral-canonical pHash from ``make_canonical_phash_udf``) and the
    same sink does incremental MIRROR dedup — flipped/rotated re-posts
    arriving in later batches link to their originals at canonical
    Hamming 0 with zero new machinery.

    ``bench_df`` (a static (bench_id, <phash_col>) table) adds the
    in-flight benchmark screen — the image analog of
    ``make_decontamination_sink``: each micro-batch is screened with
    ``operators/multimodal.py:decontaminate_images`` at
    ``decon_max_hamming`` BEFORE dedup; flagged rows land in
    ``decon/batch=<id>`` (lineage: hit counts + min Hamming) and never
    reach the edges, phash history, or label tables — an eval near-dup
    arriving on the stream is quarantined at ingest, not discovered at
    training time.
    """
    from pyspark.sql import functions as F

    from fuzzymatch_spark.operators.dedup import (
        _hamming_band_edges,
        check_hamming_radius,
        hamming_probe_pairs,
    )

    check_hamming_radius(n_bands, max_hamming)
    if bench_df is not None:
        check_hamming_radius(n_bands, decon_max_hamming, "decon_max_hamming")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.select(
            F.col(id_col).alias("id"), F.col(phash_col).alias("ph")
        )
        tables = {}
        with _batch_cache() as keep:
            if bench_df is not None:
                from fuzzymatch_spark.operators.multimodal import (
                    decontaminate_images,
                )

                screened = keep(decontaminate_images(
                    new,
                    bench_df.select("bench_id", F.col(phash_col).alias("ph")),
                    corpus_id="id",
                    phash_col="ph",
                    max_hamming=decon_max_hamming,
                    n_bands=n_bands,
                ))
                tables["decon"] = screened.filter(
                    F.col("contaminated") == 1
                ).select(F.col("id").alias(id_col), "n_bench_hits", "min_hamming")
                new = screened.filter(F.col("contaminated") == 0).select("id", "ph")
            new = keep(new)
            cand = _hamming_band_edges(
                new, "id", "ph", n_bands, max_hamming, "phash"
            ).select("a_id", "b_id", "source")
            old = read_committed(spark, work_dir, "phashes", below=batch_id)
            if old is not None:
                old = old.select(
                    F.col(id_col).alias("id"), F.col(phash_col).alias("ph")
                )
                cross = (
                    hamming_probe_pairs(new, old, "ph", n_bands, max_hamming)
                    .filter("l_id != r_id")
                    .selectExpr(
                        "least(l_id, r_id) AS a_id",
                        "greatest(l_id, r_id) AS b_id",
                        "'phash' AS source",
                    )
                )
                cand = cand.unionByName(cross).dropDuplicates(["a_id", "b_id"])
            tables["edges"] = cand
            tables["phashes"] = new.select(
                F.col("id").alias(id_col), F.col("ph").alias(phash_col)
            )
            _commit_batch(spark, work_dir, batch_id, tables,
                          new_ids=new.select("id"),
                          on_before_commit=on_before_commit)

    return sink


def make_decontamination_sink(
    spark: SparkSession,
    work_dir: str,
    id_col: str,
    text_col: str,
    benchmark_df: DataFrame,
    ngram_n: int = 3,
    fuzzy: bool = True,
    cfg: DedupConfig | None = None,
    jaccard_pct: int = 98,
    on_before_commit=None,
    bench_embeddings_df: DataFrame | None = None,
    emb_vec_col: str = "embedding",
    emb_min_cosine: float = 0.95,
):
    """``foreachBatch`` decontamination gate: flag each micro-batch of NEW
    docs against a STATIC benchmark registry, in-flight — so contaminated
    shards never enter the training corpus in the first place instead of
    being scrubbed later.

    Per batch: the exact n-gram tier (``decontaminate_ngrams``) and,
    with ``fuzzy`` (default), the MinHash-LSH near-dup tier
    (``decontaminate_fuzzy``) — both broadcast-only against the batch, so
    a micro-batch never shuffles.  Rows split into ``clean/batch=<id>``
    (every flag 0, flag columns dropped) and ``flagged/batch=<id>`` (full
    flag columns kept for audit), committed by ``_commit_batch``.

    The benchmark is persisted once here (it is re-derived into grams /
    signatures per batch — caching the source rows keeps that a
    memory-local recompute, not a re-scan).  For very large registries
    swap the exact tier to ``decontaminate_ngrams_bloom`` upstream and
    pass its residual through.

    ``bench_embeddings_df`` (a static (bench_id, ``emb_vec_col``) table)
    adds the SEMANTIC tier: stream rows must carry ``emb_vec_col``; each
    batch runs the prebuilt GEMM screen (``make_embedding_screen`` —
    benchmark matrix collected + normalized once at sink construction,
    closure reused per batch), so paraphrased
    eval leaks that share no n-grams are quarantined in-flight too —
    the flags land as ``emb_hits`` / ``emb_max_cos`` /
    ``emb_contaminated`` next to the text tiers'.
    """
    from pyspark.sql import functions as F

    from fuzzymatch_spark.operators.corpus import (
        decontaminate_fuzzy,
        decontaminate_ngrams,
    )

    cfg = cfg or DedupConfig()
    bench = benchmark_df.persist()
    # the benchmark is static across micro-batches: compute its
    # signatures ONCE here and hand them to every batch — the per-batch
    # work is then batch-side only
    bench_sig = (
        compute_signatures(bench, id_col, text_col, cfg).persist()
        if fuzzy else None
    )
    # the embedding screen is built ONCE at sink construction: the
    # benchmark matrix is collected + L2-normalized here and the compiled
    # pandas_udf closure is reused by every micro-batch (per-batch the
    # old shape re-collected the matrix and re-shipped the closure — the
    # measured overhead recorded in f8ed735; same amortization as
    # bench_sig above)
    emb_screen = None
    if bench_embeddings_df is not None:
        from fuzzymatch_spark.operators.ann import make_embedding_screen

        emb_screen = make_embedding_screen(
            bench_embeddings_df, vec_col=emb_vec_col,
            min_cosine=emb_min_cosine,
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        flags = decontaminate_ngrams(
            batch_df, bench, id_col, text_col, n=ngram_n
        )
        dirty = F.col("contaminated") == 1
        if fuzzy:
            fz = decontaminate_fuzzy(
                batch_df, bench, id_col, text_col,
                cfg=cfg, jaccard_pct=jaccard_pct, sig_bench=bench_sig,
            )
            flags = flags.join(fz, "doc_id")
            dirty = dirty | (F.col("fuzzy_contaminated") == 1)
        if emb_screen is not None:
            emb = emb_screen(
                batch_df.select(id_col, emb_vec_col)
            ).select(
                F.col(id_col).alias("doc_id"),
                F.col("n_bench_hits").alias("emb_hits"),
                F.col("max_cos").alias("emb_max_cos"),
                F.col("contaminated").alias("emb_contaminated"),
            )
            flags = flags.join(emb, "doc_id")
            dirty = dirty | (F.col("emb_contaminated") == 1)
        with _batch_cache() as keep:
            joined = keep(batch_df.join(
                flags.withColumnRenamed("doc_id", id_col), id_col
            ))
            flag_cols = [
                c for c in ("n_gram_hits", "contaminated",
                            "fuzzy_hits", "fuzzy_contaminated",
                            "emb_hits", "emb_max_cos", "emb_contaminated")
                if c in joined.columns
            ]
            _commit_batch(spark, work_dir, batch_id, {
                "clean": joined.filter(~dirty).drop(*flag_cols),
                "flagged": joined.filter(dirty),
            }, on_before_commit=on_before_commit)

    return sink
