"""Incremental signature ingest via Structured Streaming.

The reference has no incremental surface (SURVEY.md §1.3) and the north rule
is a batch pipeline with checkpoint/resume — but a 10^12-row corpus is not
re-signed from scratch when new shards land.  This module gives the
signature stage an incremental front door:

    new parquet files in a landing directory
      -> readStream (file source tracks processed files in the stream
         checkpoint — exactly-once per file)
      -> foreachBatch: the SAME fused signature pass used by the batch
         pipeline, written to a batch-scoped partition

Downstream stages (candidate edges, verify, clustering) then run as batch
jobs over the growing signatures table; LSH band keys are per-row, so new
rows only generate candidate pairs against existing band buckets — the
standard incremental-LSH pattern.

Idempotency model: ``foreachBatch`` is AT-LEAST-once (a crash between the
sink and the stream-checkpoint commit replays the batch under the SAME
batch_id), so every write is scoped to its batch — ``<table>/batch=<id>``
written with mode("overwrite") — and a per-batch commit marker under
``_commits/<id>`` is created LAST through the Hadoop FS API (works on
HDFS/S3, not just the local FS).  A replay overwrites its own partition
with identical content and re-creates the marker; readers that must not
observe an in-flight batch use ``read_committed``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from fuzzymatch_spark.config import DedupConfig
from fuzzymatch_spark.operators.dedup import compute_signatures


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _write_commit_marker(spark: SparkSession, commits_dir: str, batch_id: int) -> None:
    fs, d, jvm = _hadoop_fs(spark, commits_dir)
    fs.mkdirs(d)
    p = jvm.org.apache.hadoop.fs.Path(d, str(batch_id))
    fs.create(p, True).close()


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


def read_committed(spark: SparkSession, work_dir: str, table: str) -> DataFrame | None:
    """Read ONLY the committed batch partitions of a ``work_dir`` table
    (``signatures`` / ``bands`` / ``edges``); None when nothing committed."""
    commits = committed_batches(spark, os.path.join(work_dir, "_commits"))
    paths = [os.path.join(work_dir, table, f"batch={b}") for b in commits]
    if not paths:
        return None
    return spark.read.parquet(*paths)


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
    commits = committed_batches(spark, os.path.join(work_dir, "_commits"))
    if upto_batch is not None:
        commits = [b for b in commits if b < upto_batch]
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
    commits = committed_batches(spark, os.path.join(work_dir, "_commits"))
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


def incremental_signatures(
    spark: SparkSession,
    input_dir: str,
    schema: StructType | str,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    cfg: DedupConfig | None = None,
    available_now: bool = True,
):
    """Start (and by default drain) a file-source stream that writes
    signature rows for every new input file.

    ``available_now=True`` processes everything currently in ``input_dir``
    and stops — the batch-with-resume mode; ``False`` returns the running
    query for continuous ingest.  Each micro-batch overwrites its own
    ``batch=<id>`` partition, so an at-least-once replay cannot duplicate
    rows; ``spark.read.parquet(output_dir)`` sees the whole table.
    """
    cfg = cfg or DedupConfig()
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 32)
        .parquet(input_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sig = compute_signatures(batch_df, id_col, text_col, cfg)
        sig.write.mode("overwrite").parquet(f"{output_dir}/batch={batch_id}")

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def make_dedup_sink(
    spark: SparkSession,
    work_dir: str,
    id_col: str,
    text_col: str,
    cfg: DedupConfig | None = None,
    on_before_commit=None,
    maintain_labels: bool = True,
):
    """The incremental-dedup ``foreachBatch`` sink, exposed as a factory so
    at-least-once replay (same batch_id, same rows) is directly testable.

    Per micro-batch of NEW rows:

      1. fused signature pass (same kernel as the batch pipeline)
      2. candidate edges touching >= 1 new row:
           new x new       — the batch band self-join on just the new rows
           new x existing  — new rows' (band, key) equi-joined against the
                             COMMITTED bands partitions (band keys of old
                             rows are stored, never recomputed)
           exact           — hash-join on (xxhash64(norm), len) new vs all
      3. two-tier verify (same verify_edges)
      4. with ``maintain_labels`` (default): incremental cluster-label
         maintenance — the verified edges merge into the accumulated
         ``labels/`` delta table via localized CC over the CONTRACTED
         label graph (``label_merge_delta``), so cluster ids stay current
         across batches without ever re-running CC over the full edge
         union; ``current_labels`` is the latest-wins view.
      5. write edges/signatures/bands/labels to ``<table>/batch=<id>``
         partitions (mode overwrite — a replay rewrites identical
         content), then create the ``_commits/<id>`` marker LAST.

    History is strictly the committed batches BELOW the current id, so a
    replay after a post-marker crash sees exactly the pre-batch corpus and
    reproduces the same partition content.

    ``on_before_commit(batch_id)`` is a fault-injection hook invoked after
    all table writes but BEFORE the commit marker — tests raise from it to
    simulate a crash in the exact window the idempotency design exists for
    (data written, batch uncommitted).
    """
    from pyspark.sql import functions as F

    from fuzzymatch_spark.operators.dedup import (
        exact_dup_edges,
        minhash_band_edges,
        minhash_bands,
        verify_edges,
    )

    cfg = cfg or DedupConfig()
    sig_dir = os.path.join(work_dir, "signatures")
    bands_dir = os.path.join(work_dir, "bands")
    edges_dir = os.path.join(work_dir, "edges")
    commits_dir = os.path.join(work_dir, "_commits")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        new_sig = compute_signatures(batch_df, id_col, text_col, cfg).persist()
        new_bands = minhash_bands(new_sig, cfg).persist()

        history = [
            b for b in committed_batches(spark, commits_dir) if b < batch_id
        ]
        cand = minhash_band_edges(new_sig, cfg).select("a_id", "b_id", "source")
        if history:
            old_sig = spark.read.parquet(
                *[f"{sig_dir}/batch={b}" for b in history]
            )
            old_bands = spark.read.parquet(
                *[f"{bands_dir}/batch={b}" for b in history]
            )
            # the band index is folded into the 64-bit key
            # (minhash_bands hashes xxhash64(band_i, slice)), so the
            # incremental join equi-joins on the single key column — the
            # band column is pruned from both scans and the exchange
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

        verified = verify_edges(cand, all_sig, cfg)
        verified.write.mode("overwrite").parquet(f"{edges_dir}/batch={batch_id}")
        new_sig.write.mode("overwrite").parquet(f"{sig_dir}/batch={batch_id}")
        new_bands.write.mode("overwrite").parquet(
            f"{bands_dir}/batch={batch_id}"
        )
        if maintain_labels:
            delta = label_merge_delta(
                spark.read.parquet(f"{edges_dir}/batch={batch_id}"),
                current_labels(spark, work_dir, upto_batch=batch_id),
                new_sig.select("id"),
            )
            delta.write.mode("overwrite").parquet(
                f"{work_dir}/labels/batch={batch_id}"
            )
        if on_before_commit is not None:
            on_before_commit(batch_id)
        _write_commit_marker(spark, commits_dir, batch_id)
        new_sig.unpersist()
        new_bands.unpersist()

    return sink


def make_phash_dedup_sink(
    spark: SparkSession,
    work_dir: str,
    id_col: str = "image_id",
    phash_col: str = "phash",
    n_bands: int = 8,
    max_hamming: int = 6,
    on_before_commit=None,
    maintain_labels: bool = True,
    bench_df: DataFrame | None = None,
    decon_max_hamming: int = 6,
):
    """Image-side incremental near-dup sink — the pHash half of the north
    rule's image+caption table, mirroring ``make_dedup_sink``'s idempotency
    model (batch-scoped overwrites, commit marker written LAST,
    ``on_before_commit`` fault hook).

    Per micro-batch of NEW rows carrying stored perceptual hashes:

      1. new x new — the Manku combination-key Hamming self-join
         (``_hamming_band_edges``, with its mega-bucket cap)
      2. new x history — ``operators/dedup.py:hamming_probe_pairs``, the
         probe join ``decontaminate_images`` also uses: new rows' fused
         band keys equi-joined against the COMMITTED phash partitions,
         re-keyed IN-TASK from the stored hashes (28 integer shift/or ops
         per row; no band table persisted, no shuffle on the history
         side beyond the join itself)
      3. JVM ``bit_count`` verify on both legs
      4. write edges + phashes to ``<table>/batch=<id>``, then the marker

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
    training time.  Batch-scoped overwrites keep the screen replay-
    idempotent like every other table here.
    """
    from pyspark.sql import functions as F

    from fuzzymatch_spark.operators.dedup import (
        _hamming_band_edges,
        check_hamming_radius,
        hamming_probe_pairs,
    )

    ph_dir = os.path.join(work_dir, "phashes")
    edges_dir = os.path.join(work_dir, "edges")
    commits_dir = os.path.join(work_dir, "_commits")
    check_hamming_radius(n_bands, max_hamming)
    if bench_df is not None:
        check_hamming_radius(n_bands, decon_max_hamming, "decon_max_hamming")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.select(
            F.col(id_col).alias("id"), F.col(phash_col).alias("ph")
        )
        if bench_df is not None:
            from fuzzymatch_spark.operators.multimodal import (
                decontaminate_images,
            )

            screened = decontaminate_images(
                new,
                bench_df.select(
                    "bench_id", F.col(phash_col).alias("ph")
                ),
                corpus_id="id",
                phash_col="ph",
                max_hamming=decon_max_hamming,
                n_bands=n_bands,
            ).persist()
            screened.filter(F.col("contaminated") == 1).select(
                F.col("id").alias(id_col), "n_bench_hits", "min_hamming"
            ).write.mode("overwrite").parquet(
                f"{work_dir}/decon/batch={batch_id}"
            )
            new = screened.filter(F.col("contaminated") == 0).select(
                "id", "ph"
            )
        new = new.persist()
        cand = _hamming_band_edges(
            new, "id", "ph", n_bands, max_hamming, "phash"
        ).select("a_id", "b_id", "source")

        history = [
            b for b in committed_batches(spark, commits_dir) if b < batch_id
        ]
        if history:
            old = spark.read.parquet(
                *[f"{ph_dir}/batch={b}" for b in history]
            ).select(F.col(id_col).alias("id"), F.col(phash_col).alias("ph"))
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

        cand.write.mode("overwrite").parquet(f"{edges_dir}/batch={batch_id}")
        new.select(
            F.col("id").alias(id_col), F.col("ph").alias(phash_col)
        ).write.mode("overwrite").parquet(f"{ph_dir}/batch={batch_id}")
        if maintain_labels:
            delta = label_merge_delta(
                spark.read.parquet(f"{edges_dir}/batch={batch_id}"),
                current_labels(spark, work_dir, upto_batch=batch_id),
                new.select("id"),
            )
            delta.write.mode("overwrite").parquet(
                f"{work_dir}/labels/batch={batch_id}"
            )
        if on_before_commit is not None:
            on_before_commit(batch_id)
        _write_commit_marker(spark, commits_dir, batch_id)
        new.unpersist()
        if bench_df is not None:
            screened.unpersist()

    return sink


def incremental_phash_dedup(
    spark: SparkSession,
    input_dir: str,
    schema: StructType | str,
    work_dir: str,
    checkpoint_dir: str,
    id_col: str = "image_id",
    phash_col: str = "phash",
    available_now: bool = True,
    bench_df: DataFrame | None = None,
    decon_max_hamming: int = 6,
):
    """File-source stream over landing (image_id, phash) shards →
    ``make_phash_dedup_sink``.  Tables under ``work_dir``: ``phashes/``,
    ``edges/`` (batch-partitioned) + ``_commits/`` markers, plus
    ``decon/`` when ``bench_df`` enables the in-flight benchmark
    screen."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 32)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            make_phash_dedup_sink(
                spark, work_dir, id_col, phash_col,
                bench_df=bench_df, decon_max_hamming=decon_max_hamming,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    schema: StructType | str,
    work_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    cfg: DedupConfig | None = None,
    available_now: bool = True,
):
    """Incremental near-duplicate detection: the standard incremental-LSH
    pattern over a file-source stream (see ``make_dedup_sink`` for the
    per-batch plan and the idempotency model).  Clustering stays a batch
    job over the accumulated edges table (connected components is global by
    nature; the north-rule pipeline runs it from the edges checkpoint).

    Tables under ``work_dir``: ``signatures/``, ``bands/``, ``edges/``
    (batch-partitioned), plus ``_commits/`` markers.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 32)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            make_dedup_sink(spark, work_dir, id_col, text_col, cfg)
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


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
    (both flags 0) and ``flagged/batch=<id>`` (full flag columns kept for
    audit), then the ``_commits/<id>`` marker LAST — the same
    at-least-once idempotency model as the dedup sinks (a replay rewrites
    identical batch-scoped partitions).

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
    commits_dir = os.path.join(work_dir, "_commits")
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
        joined = batch_df.join(
            flags.withColumnRenamed("doc_id", id_col), id_col
        ).persist()
        joined.filter(~dirty).drop(
            *[c for c in ("n_gram_hits", "contaminated",
                          "fuzzy_hits", "fuzzy_contaminated",
                          "emb_hits", "emb_max_cos", "emb_contaminated")
              if c in joined.columns]
        ).write.mode("overwrite").parquet(
            f"{work_dir}/clean/batch={batch_id}"
        )
        joined.filter(dirty).write.mode("overwrite").parquet(
            f"{work_dir}/flagged/batch={batch_id}"
        )
        joined.unpersist()
        if on_before_commit is not None:
            on_before_commit(batch_id)
        _write_commit_marker(spark, commits_dir, batch_id)

    return sink


def incremental_decontamination(
    spark: SparkSession,
    input_dir: str,
    schema: StructType | str,
    work_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    benchmark_df: DataFrame,
    ngram_n: int = 3,
    fuzzy: bool = True,
    cfg: DedupConfig | None = None,
    jaccard_pct: int = 98,
    available_now: bool = True,
    bench_embeddings_df: DataFrame | None = None,
    emb_vec_col: str = "embedding",
    emb_min_cosine: float = 0.95,
):
    """File-source stream over landing doc shards →
    ``make_decontamination_sink``.  Tables under ``work_dir``:
    ``clean/``, ``flagged/`` (batch-partitioned) + ``_commits/``."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 32)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            make_decontamination_sink(
                spark, work_dir, id_col, text_col, benchmark_df,
                ngram_n=ngram_n, fuzzy=fuzzy, cfg=cfg,
                jaccard_pct=jaccard_pct,
                bench_embeddings_df=bench_embeddings_df,
                emb_vec_col=emb_vec_col,
                emb_min_cosine=emb_min_cosine,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
