"""Staged, resumable dedup pipeline (north rule).

Stage graph (SURVEY.md §3.4):

    0 gate         : (optional, image inputs) metadata keep/reject
                     + aspect buckets — rejects never reach a codec [projection]
    1 signatures   : images/docs -> normalize+sketch table      [1 UDF pass]
    2 cand_edges   : exact + MinHash-LSH (+ SimHash if
                     cfg.simhash_candidates, + pHash)            [band joins]
    3 scored_edges : verify kernel, threshold                    [1 UDF pass]
    4 clusters     : spanning-forest fold, one parquet forest    [2 jobs]
    4b canonical   : (optional) per-cluster max-pixels survivor  [argmin agg]
    5 metrics      : per-stage row counts / wall time            [lineage]

Every stage writes a parquet checkpoint under ``work_dir`` with a _DONE
completion marker; a killed job re-run skips completed stages (verified by
tests/test_resume.py).  On a real cluster these checkpoints are Iceberg
tables — the layout (one table per stage + completion marker + run_config
lineage row) is identical; parquet-on-dir is the sandbox stand-in.

Scale notes: stage boundaries are exactly the points where a 10^12-row run
must be able to resume (the LSH self-join and verify dominate cost);
``bytes``-typed columns never enter any checkpoint except the signature
stage input projection (column pruning keeps them out of every shuffle).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from fuzzymatch_spark.config import DedupConfig
from fuzzymatch_spark.operators.cluster import cluster_assignments
from fuzzymatch_spark.operators.dedup import (
    candidate_edges,
    compute_signatures,
    phash_band_edges,
    verify_edges,
)
from fuzzymatch_spark.operators.suffix import suffix_run_pairs


@dataclass
class DedupPipeline:
    spark: SparkSession
    work_dir: str
    cfg: DedupConfig = field(default_factory=DedupConfig)
    id_col: str = "image_id"
    text_col: str = "caption"
    phash_col: str | None = None  # set to use the pHash image stage
    # stored dihedral-canonical pHash (kernels.phash.phash64_canonical,
    # computed at ingest by make_canonical_phash_udf): adds the
    # flip/rotation-resistant edge source ('mirror') via the same banded
    # Hamming join — mirrored re-posts land at canonical Hamming 0
    cphash_col: str | None = None
    use_suffix_stage: bool = True
    # image-input extras (both default off so text pipelines are
    # unchanged): apply_gate needs (w, h, fmt, <text_col>) metadata
    # columns and checkpoints a per-row keep/reject + aspect-bucket
    # table, filtering rejects out BEFORE the signature UDF ever decodes
    # them; select_canonical needs (w, h) and appends a per-cluster
    # max-pixels survivor flag to the returned clusters.
    apply_gate: bool = False
    select_canonical: bool = False
    # emit_batches=<batch size> adds the final training-manifest stage:
    # canonical survivors joined with their gate-stage aspect buckets,
    # assigned deterministic (shard, batch_idx) micro-batches.  Requires
    # apply_gate (buckets) and select_canonical (survivors).
    emit_batches: int | None = None
    batch_shards: int = 1024
    # emit_resized adds the payload stage: canonical survivors' bytes
    # resized to their aspect bucket's dims (lossless PNG), written
    # partitioned by (w, h) so a loader prunes to its tensor shape at
    # the source.  The non-inline canonical verdict reaches the bytes
    # via a Bloom filter over the DROP ids + ids-only false-positive
    # recovery (survivor_payload_filter) — payload bytes never enter an
    # Exchange.  Requires apply_gate and select_canonical.
    emit_resized: bool = False
    # ONE aspect-bucket ladder (None = the module default) drives BOTH
    # the gate stage's bucket assignment and the resize targets, so the
    # manifest's (bucket_w, bucket_h) and the resized payload dims can
    # never diverge.
    aspect_ladder: tuple | None = None
    # decontaminate_bench (a parquet path with (bench_id, <phash_col>))
    # adds stage 1b: screen the corpus against a benchmark/eval image
    # set within decon_max_hamming of the stored pHash
    # (operators/multimodal.py:decontaminate_images — benchmark side
    # broadcast, corpus never shuffles).  Flagged rows checkpoint as
    # curation lineage and are EXCLUDED from clustering and from every
    # emit stage (training on eval near-dups inflates benchmark
    # scores).  Requires phash_col.
    decontaminate_bench: str | None = None
    decon_max_hamming: int = 6
    metrics: list = field(default_factory=list)
    partition_metrics: list = field(default_factory=list)

    # -- checkpoint helpers -------------------------------------------------
    def _ladder_kw(self) -> dict:
        """The shared ``buckets=`` kwarg for aspect_buckets and
        resize_to_buckets ({} = each operator's module default)."""
        return (
            {} if self.aspect_ladder is None
            else {"buckets": self.aspect_ladder}
        )

    def _path(self, stage: str) -> str:
        return os.path.join(self.work_dir, stage)

    def _done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), "_DONE"))

    def _write(
        self, df: DataFrame, stage: str, partition_cols: tuple = ()
    ) -> DataFrame:
        path = self._path(stage)
        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_cols:
            # hive layout (no exchange: each task writes into its
            # partitions' dirs) so downstream reads prune at the source
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        # per-partition lineage (FIXTURES.md metrics schema): rows per
        # partition exposes skew that a total count hides
        pp = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        n = sum(r["count"] for r in pp)
        wall = time.time() - t0
        with open(os.path.join(path, "_DONE"), "w") as f:
            f.write(json.dumps({"rows": n, "wall_s": wall}))
        self.metrics.append({"stage": stage, "rows": n, "wall_s": round(wall, 3),
                             "recomputed": True})
        self.partition_metrics.extend(
            {
                "stage": stage,
                "partition_id": int(r["partition_id"]),
                "rows": int(r["count"]),
                "wall_ms": round(wall * 1000, 1),
            }
            for r in pp
        )
        return out

    def _load_or_compute(
        self, stage: str, compute, partition_cols: tuple = ()
    ) -> DataFrame:
        if self._done(stage):
            out = self.spark.read.parquet(self._path(stage))
            self.metrics.append({"stage": stage, "rows": None, "wall_s": 0.0,
                                 "recomputed": False})
            return out
        return self._write(compute(), stage, partition_cols)

    # -- stages --------------------------------------------------------------
    def run(self, input_df: DataFrame) -> DataFrame:
        """Full pipeline; returns the clusters DataFrame (id, cluster_id)."""
        if (self.emit_batches is not None or self.emit_resized) and not (
            self.apply_gate and self.select_canonical
        ):
            raise ValueError(
                "emit_batches/emit_resized require apply_gate (bucket"
                " columns, positive-dims precondition) and"
                " select_canonical (survivor flags)"
            )
        if self.decontaminate_bench and not self.phash_col:
            raise ValueError(
                "decontaminate_bench requires phash_col (the benchmark"
                " screen matches on the stored perceptual hash)"
            )
        os.makedirs(self.work_dir, exist_ok=True)
        with open(os.path.join(self.work_dir, "run_config.json"), "w") as f:
            f.write(self.cfg.to_json())

        # stage 0 (optional): metadata gate + aspect buckets.  Pure
        # metadata projection — payload bytes are pruned before it, and
        # rejected rows are filtered out HERE so they never cost a codec
        # pass in the signature stage.  The checkpointed table is the
        # curation lineage (reject reasons + bucket assignment).
        if self.apply_gate:
            from fuzzymatch_spark.operators.multimodal import (
                aspect_buckets,
                gate_keep_predicate,
                image_caption_gate,
            )

            def _gate():
                g = aspect_buckets(
                    image_caption_gate(
                        input_df.select(
                            F.col(self.id_col),
                            "w", "h", "fmt",
                            F.col(self.text_col).alias("caption"),
                        ),
                        id_col=self.id_col,
                    ),
                    **self._ladder_kw(),
                )
                kept = F.col("keep")
                return g.select(
                    "image_id", "w", "h", "fmt", "reject_reason",
                    kept.cast("int").alias("keep"),
                    *[
                        F.when(kept, F.col(c)).alias(c)
                        for c in ("bucket_w", "bucket_h", "downscale")
                    ],
                )

            self._load_or_compute("gate", _gate)
            # Survivor cut: recompute the (deterministic) keep rule as a
            # scan-level filter instead of semi-joining against the gate
            # table — a corpus-wide exchange just to re-derive a function
            # of the row's own metadata columns.  The checkpointed table
            # above stays as the curation lineage.
            input_df = input_df.where(
                gate_keep_predicate(caption_col=self.text_col)
            )

        # stage 1: signatures (project away binary payloads immediately)
        hash_cols = [c for c in (self.phash_col, self.cphash_col) if c]
        cols = [self.id_col, self.text_col] + hash_cols
        narrow = input_df.select(*cols)
        sig = self._load_or_compute(
            "signatures",
            lambda: compute_signatures(narrow, self.id_col, self.text_col, self.cfg)
            .join(
                narrow.select(
                    F.col(self.id_col).alias("id"),
                    *[F.col(c) for c in hash_cols],
                ),
                on="id",
            ),
        )

        # stage 1b (optional): benchmark decontamination on the stored
        # pHash — flagged rows checkpoint as curation lineage (hit
        # counts + min Hamming) and leave the corpus HERE, before any
        # banding cost.  The dirty-id set is bounded by contamination
        # volume (tiny by construction), so the downstream cut is an
        # ids-only broadcast anti-join — the corpus never shuffles.
        decon_dirty = None
        if self.decontaminate_bench:
            from fuzzymatch_spark.operators.multimodal import (
                decontaminate_images,
            )
            sig_for_decon = sig

            def _decon():
                bench = self.spark.read.parquet(self.decontaminate_bench)
                return decontaminate_images(
                    sig_for_decon.select("id", self.phash_col),
                    bench,
                    corpus_id="id",
                    phash_col=self.phash_col,
                    max_hamming=self.decon_max_hamming,
                ).select("id", "n_bench_hits", "min_hamming", "contaminated")

            flagged = self._load_or_compute("decon", _decon)
            decon_dirty = flagged.filter(
                F.col("contaminated") == 1
            ).select("id")
            sig = sig.join(F.broadcast(decon_dirty), "id", "left_anti")

        # stage 2: candidate edges (exact + minhash [+ simhash via cfg,
        # + phash, suffix])
        def _cand():
            edges = candidate_edges(sig, self.cfg)
            if self.phash_col:
                ph = phash_band_edges(sig, self.cfg, id_col="id",
                                      phash_col=self.phash_col)
                edges = edges.unionByName(ph)
            if self.cphash_col:
                mr = phash_band_edges(sig, self.cfg, id_col="id",
                                      phash_col=self.cphash_col,
                                      source="mirror")
                edges = edges.unionByName(mr)
            if self.use_suffix_stage:
                sx = suffix_run_pairs(sig, "id", "caption_norm",
                                      run_len=self.cfg.suffix_min_run)
                edges = edges.unionByName(sx)
            return edges.groupBy("a_id", "b_id").agg(F.min("source").alias("source"))

        cand = self._load_or_compute("candidate_edges", _cand)

        # stage 3: verified edges
        scored = self._load_or_compute(
            "scored_edges", lambda: verify_edges(cand, sig, self.cfg)
        )

        # stage 4: clusters (the fold's level-1 forest is checkpointed to
        # parquet inside work_dir)
        def _clusters():
            def ckpt(df: DataFrame, _i: int) -> DataFrame:
                p = os.path.join(self.work_dir, "cc_forest")
                df.write.mode("overwrite").parquet(p)
                return self.spark.read.parquet(p)

            ids = sig.select(F.col("id"))
            return cluster_assignments(scored, ids, id_col="id",
                                       checkpoint_fn=ckpt)

        clusters = self._load_or_compute("clusters", _clusters)

        # stage 4b (optional): per-cluster survivor selection — the
        # keep-the-original-not-the-thumbnail rule, via the skew-immune
        # argmin aggregate (a mega-cluster never serializes into one
        # window task).  Joins pixels from the (post-gate) input by id.
        if self.select_canonical:
            from fuzzymatch_spark.operators.multimodal import (
                canonical_image_selection,
            )
            gated_input = input_df

            def _canon():
                meta = gated_input.select(
                    F.col(self.id_col).alias("id"),
                    (
                        F.col("w").cast("long") * F.col("h").cast("long")
                    ).alias("pixels"),
                )
                return canonical_image_selection(
                    clusters.join(meta, on="id"), id_col="id"
                )

            clusters = self._load_or_compute("canonical", _canon)

        # stage 4c (optional): the training manifest — canonical
        # survivors joined with their gate-stage aspect buckets and
        # assigned deterministic (shard, batch_idx) micro-batches.  A
        # loader reads same-tensor-shape batches off this table
        # reproducibly; the dedup output itself is unchanged (the
        # manifest is a side table under work_dir/manifest).
        if self.emit_batches is not None:
            from fuzzymatch_spark.operators.multimodal import (
                bucket_batches,
            )
            final_clusters = clusters

            def _manifest():
                buckets = self.spark.read.parquet(self._path("gate")).select(
                    F.col("image_id").alias("id"), "bucket_w", "bucket_h"
                )
                surv = final_clusters.filter(
                    F.col("is_canonical") == 1
                ).select("id")
                return bucket_batches(
                    surv.join(buckets, on="id"),
                    batch_size=self.emit_batches,
                    n_shards=self.batch_shards,
                    id_col="id",
                )

            self._load_or_compute("manifest", _manifest)

        # stage 4d (optional): the payload emit — canonical survivors'
        # bytes resized to their aspect bucket's dims (lossless PNG),
        # hive-partitioned by (w, h) so a loader reads one tensor shape
        # with source-level pruning.  The canonical verdict is NOT a
        # function of the row's own columns (it depends on clustering),
        # so it reaches the bytes as a Bloom filter over the DROP ids
        # with ids-only false-positive recovery — the payload never
        # enters an Exchange (see survivor_payload_filter).
        if self.emit_resized:
            from fuzzymatch_spark.operators.multimodal import (
                resize_to_buckets,
                survivor_payload_filter,
            )
            resize_clusters = clusters
            resize_input = input_df
            resize_dirty = decon_dirty

            def _resized():
                drops = resize_clusters.filter(
                    F.col("is_canonical") == 0
                ).select(F.col("id").alias("image_id"))
                if resize_dirty is not None:
                    # decon-flagged ids left the corpus BEFORE clustering,
                    # so they are absent from `clusters` and the
                    # non-canonical drop set alone would let their bytes
                    # through — they must drop here too (the two sets are
                    # disjoint by construction)
                    drops = drops.unionByName(
                        resize_dirty.select(F.col("id").alias("image_id"))
                    )
                payload = resize_input.select(
                    F.col(self.id_col).alias("image_id"), "bytes", "w", "h"
                )
                surv = survivor_payload_filter(payload, drops)
                return resize_to_buckets(surv, **self._ladder_kw())

            self._load_or_compute(
                "resized", _resized, partition_cols=("w", "h")
            )

        # stage 5: metrics + per-partition lineage tables
        mdf = self.spark.createDataFrame(
            [(m["stage"], m["rows"], m["wall_s"], m["recomputed"])
             for m in self.metrics],
            "stage string, rows long, wall_s double, recomputed boolean",
        )
        mdf.write.mode("overwrite").parquet(self._path("metrics"))
        if self.partition_metrics:
            pdf = self.spark.createDataFrame(
                [
                    (m["stage"], m["partition_id"], m["rows"], m["wall_ms"])
                    for m in self.partition_metrics
                ],
                "stage string, partition_id int, rows long, wall_ms double",
            )
            pdf.write.mode("overwrite").parquet(self._path("metrics_partitions"))
        return clusters
