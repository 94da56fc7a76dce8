"""The benchmark's workloads: seeded inputs, one timed op, its output check,
and its traced (layer-by-layer) decomposition.

Each workload is driven only through the library's public entry points:

- ``build`` makes the inputs from the seed;
- ``op`` is one closed-loop operation;
- ``check`` returns the reasons an op's output is wrong, or an empty list;
- ``traced`` re-runs one op layer by layer under a ``Tracer``, so each
  layer's jobs carry their own job group, and returns its output errors;
- ``layers`` turns those spans and the event-log numbers per job group
  into the workload's per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import numpy as np

from spans import group_value

# The vocabulary of the repository's synthetic `documents` test table.
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NEAR_DUP_RATE = 0.05  # share of documents planted as "<earlier text> dup"


def make_documents(n: int, seed: int):
    """A seeded (doc_id, text) table like the repository's `documents` test
    table: 10-100 tokens from its 30-word vocabulary, with a few planted
    near-duplicates."""
    import pyarrow as pa

    rs = np.random.RandomState(seed % 2**32)
    texts: list[str] = []
    for i, length in enumerate(rs.randint(10, 101, n)):
        if i and rs.rand() < NEAR_DUP_RATE:
            texts.append(texts[rs.randint(i)] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in rs.randint(0, len(WORDS), length)))
    return pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def load_documents(spark, n: int, seed: int, out_dir: str):
    """Seeded documents written to ``out_dir`` as parquet and read back."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(make_documents(n, seed), os.path.join(out_dir, "part-0.parquet"))
    return spark.read.parquet(out_dir)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _labels(df) -> dict:
    return {r[0]: r[1] for r in df.select("id", "cluster_id").collect()}


def _per_item_us(fn, items: int, min_s: float = 0.3) -> float:
    """Microseconds per item of ``fn`` on this thread, after one warm call."""
    fn()
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        wall = time.perf_counter() - t0
        if wall >= min_s:
            return wall / reps / items * 1e6


class CorpusDedup:
    """``DedupPipeline.run`` (web_dense profile, ``phash_col`` set) over an
    image+caption corpus built in set-up by ``build_images_df``."""

    # the op after the cold first pass is still ~10% slower than the next
    warmup_ops = 1
    # the cold op takes ~17 s, long enough to time once
    cold_passes = 1
    jvm_options = ""
    min_ops = 2
    stream_batches = 4
    layer_prefixes = ("sources", "kernels.phash", "functions", "dedup", "suffix",
                      "cluster", "pipeline", "stream")

    def __init__(self, n_docs: int):
        self.n_docs = n_docs
        self.clusters_ref: int | None = None
        self.last_metrics: list = []
        self.last_bytes_written = 0

    def build(self, spark, seed: int, work: str, tracer=None) -> None:
        from fuzzymatch_spark.sources.images import build_images_df

        self.spark = spark
        self.seed = seed
        self.work = work
        docs = load_documents(spark, self.n_docs, seed, f"{work}/docs")
        self.images_path = f"{work}/images"
        with tracer.span("sources.images") if tracer else nullcontext():
            build_images_df(spark, docs, "doc_id", "text", seed=seed).write.parquet(
                self.images_path
            )
        self.images = spark.read.parquet(self.images_path)
        self.input_bytes = dir_bytes(self.images_path)
        self.items = self.images.count()
        self.ops = 0

    def _pipeline(self, run_dir: str):
        from fuzzymatch_spark.config import DedupConfig
        from fuzzymatch_spark.plans.pipeline import DedupPipeline

        return DedupPipeline(
            self.spark, run_dir, DedupConfig.web_dense(),
            id_col="image_id", text_col="caption", phash_col="phash",
        )

    def op(self):
        run_dir = f"{self.work}/run{self.ops}"
        self.ops += 1
        pipe = self._pipeline(run_dir)
        labels = _labels(pipe.run(self.images))
        self.last_metrics = pipe.metrics
        return run_dir, labels

    def check(self, out) -> list[str]:
        from fuzzymatch_spark.operators.cluster import cluster_assignments

        run_dir, labels = out
        errors = []
        if len(labels) != self.items:
            errors.append(f"{len(labels)} labelled rows for {self.items} images")
        # every near-dup twin shares its original's caption, so an exact edge
        # must put both in one cluster
        twins = [i for i in labels if i.endswith("_dup")]
        split = [i for i in twins if labels[i] != labels.get(i[: -len("_dup")])]
        if split:
            errors.append(f"{len(split)} of {len(twins)} image twins split from their original")
        n_clusters = len(set(labels.values()))
        if self.clusters_ref is None:
            self.clusters_ref = n_clusters
        elif n_clusters != self.clusters_ref:
            errors.append(f"{n_clusters} clusters, first op of this seed gave {self.clusters_ref}")
        scored = self.spark.read.parquet(f"{run_dir}/scored_edges")
        ids = self.spark.read.parquet(f"{run_dir}/signatures").select("id")
        if _labels(cluster_assignments(scored, ids, id_col="id", method="fold")) != labels:
            errors.append("star labels differ from the fold over the scored_edges checkpoint")
        self.last_bytes_written = dir_bytes(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
        return errors

    def traced(self, tracer) -> list[str]:
        """One op decomposed stage by stage the way ``DedupPipeline.run``
        composes it.  Each layer's output is written to a parquet checkpoint
        and counted inside its own span, as the pipeline does, so the span's
        jobs are the layer's self time.  Every Hamming edge must lie within
        ``phash_max_hamming``.  Then the streaming leg."""
        from pyspark.sql import functions as F

        from fuzzymatch_spark.config import DedupConfig
        from fuzzymatch_spark.operators.cluster import cluster_assignments
        from fuzzymatch_spark.operators.dedup import (
            candidate_edges,
            compute_signatures,
            phash_band_edges,
            verify_edges,
        )
        from fuzzymatch_spark.operators.suffix import suffix_run_pairs

        cfg = DedupConfig.web_dense()
        spark = self.spark
        tdir = f"{self.work}/traced"

        def stage(name, build):
            with tracer.span(name) as sp:
                build().write.parquet(f"{tdir}/{name}")
                df = spark.read.parquet(f"{tdir}/{name}")
                sp.rows = df.count()
            return df

        def ckpt(df, i):
            path = f"{tdir}/cc_iter_{i:03d}"
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        narrow = self.images.select("image_id", "caption", "phash")
        with tracer.span("op.traced"):
            sig = stage("functions.signature", lambda: compute_signatures(
                narrow, "image_id", "caption", cfg
            ).join(narrow.select(F.col("image_id").alias("id"), "phash"), on="id"))
            cand = stage("dedup.candidates", lambda: candidate_edges(sig, cfg))
            ham = stage("dedup.hamming", lambda: phash_band_edges(
                sig, cfg, id_col="id", phash_col="phash"
            ))
            sfx = stage("suffix.pairs", lambda: suffix_run_pairs(
                sig, "id", "caption_norm", run_len=cfg.suffix_min_run
            ))
            union = stage("dedup.candidate_union", lambda: cand.unionByName(ham)
                          .unionByName(sfx).groupBy("a_id", "b_id")
                          .agg(F.min("source").alias("source")))
            scored = stage("dedup.verify", lambda: verify_edges(union, sig, cfg))
            clusters = stage("cluster.cc", lambda: cluster_assignments(
                scored, sig.select("id"), id_col="id", checkpoint_fn=ckpt
            ))
            with tracer.span("cluster.count"):
                self.n_clusters = clusters.select("cluster_id").distinct().count()
        hashes = sig.select("id", "phash")
        too_far = (
            ham.join(hashes.withColumnRenamed("id", "a_id"), "a_id")
            .join(hashes.selectExpr("id AS b_id", "phash AS b_phash"), "b_id")
            .filter(F.bit_count(F.col("phash").bitwiseXOR(F.col("b_phash")))
                    > cfg.phash_max_hamming)
            .count()
        )
        shutil.rmtree(tdir, ignore_errors=True)
        self.phash_us = self._image_kernel_us()
        errors = [f"{too_far} Hamming edges beyond phash_max_hamming"] if too_far else []
        return errors + self._traced_stream(tracer)

    def _traced_stream(self, tracer) -> list[str]:
        """``make_dedup_sink`` on seeded micro-batches of the corpus in a
        fresh work dir, with no cache clearing between batches."""
        from pyspark.sql import functions as F

        from fuzzymatch_spark.config import DedupConfig
        from fuzzymatch_spark.streaming.ingest import committed_batches, make_dedup_sink

        spark = self.spark
        k = self.stream_batches
        stream_dir = f"{self.work}/stream"
        sink = make_dedup_sink(spark, stream_dir, "image_id", "caption", DedupConfig.web_dense())
        rows = self.images.select("image_id", "caption").withColumn(
            "_b", F.abs(F.xxhash64("image_id", F.lit(self.seed))) % k
        )
        walls, errors, n_in = [], [], 0
        for b in range(k):
            batch = rows.filter(F.col("_b") == b).drop("_b")
            n_in += batch.count()
            with tracer.span(f"stream.batch{b}") as sp:
                sink(batch, b)
            walls.append(sp.wall)
        if committed_batches(spark, f"{stream_dir}/_commits") != list(range(k)):
            errors.append("a micro-batch is missing its _commits marker")
        n_sig = spark.read.parquet(f"{stream_dir}/signatures").count()
        if n_sig != n_in:
            errors.append(f"{n_sig} signature rows for {n_in} input rows")
        self.stream = {
            "stream.batch_first_s": walls[0],
            "stream.batch_last_s": walls[-1],
            "stream.batch_growth": walls[-1] / walls[0],
            "stream.bytes_written": dir_bytes(stream_dir) / self.input_bytes,
            "stream.persisted_rdds": persisted_rdds(spark),
        }
        shutil.rmtree(stream_dir, ignore_errors=True)
        return errors

    def _image_kernel_us(self, n: int = 256) -> float:
        """Per-image cost, on the driver with no Spark, of the row kernel
        the sources UDF runs (synthesis, JPEG/PNG codec, pHash)."""
        from fuzzymatch_spark.sources.images import _batch_image_rows

        rids = [f"k{self.seed}_{i}" for i in range(n)]
        caps = ["kernel"] * n
        run = lambda: _batch_image_rows(rids, caps, self.seed, 0.25, want_dhash=False)  # noqa: E731
        return _per_item_us(run, len(run()))

    def layers(self, tracer, groups: dict) -> dict:
        def wall(name):
            return tracer.last(name).wall

        def value(name, key):
            return group_value(groups, tracer.last(name), key)

        pipeline = {m["stage"]: m["wall_s"] for m in self.last_metrics}
        dl_pairs = value("dedup.verify", "python_rows")
        union = tracer.rows("dedup.candidate_union")
        return {
            "sources.images_s": wall("sources.images"),
            "sources.images_python_s": value("sources.images", "python_s"),
            "sources.images_rows": self.items,
            "sources.images_boot_s": value("sources.images", "python_boot_s")
            + value("sources.images", "python_init_s"),
            "kernels.phash_us": self.phash_us,
            "functions.signature_s": wall("functions.signature"),
            "functions.signature_python_s": value("functions.signature", "python_s"),
            "functions.arrow_bytes": value("functions.signature", "python_sent_bytes")
            + value("functions.signature", "python_received_bytes"),
            "dedup.candidates_s": wall("dedup.candidates"),
            "dedup.candidate_pairs": tracer.rows("dedup.candidates"),
            "dedup.candidate_shuffle_records": value("dedup.candidates", "shuffle_write_records"),
            "dedup.candidate_shuffle_bytes": value("dedup.candidates", "shuffle_write_bytes"),
            "dedup.verify_s": wall("dedup.verify"),
            "dedup.verified_edges": tracer.rows("dedup.verify"),
            "dedup.verify_shuffle_bytes": value("dedup.verify", "shuffle_write_bytes"),
            "dedup.dl_tier_pairs": dl_pairs,
            "dedup.dl_tier_frac": dl_pairs / union if union else 0.0,
            "dedup.hamming_s": wall("dedup.hamming"),
            "dedup.hamming_edges": tracer.rows("dedup.hamming"),
            "suffix.pairs_s": wall("suffix.pairs"),
            "suffix.pairs": tracer.rows("suffix.pairs"),
            "cluster.cc_s": wall("cluster.cc"),
            "cluster.jobs": tracer.last("cluster.cc").jobs,
            "cluster.clusters": self.n_clusters,
            # read from the last untimed op's public DedupPipeline.metrics
            "pipeline.signatures_s": pipeline.get("signatures", 0.0),
            "pipeline.candidate_edges_s": pipeline.get("candidate_edges", 0.0),
            "pipeline.scored_edges_s": pipeline.get("scored_edges", 0.0),
            "pipeline.clusters_s": pipeline.get("clusters", 0.0),
            "pipeline.bytes_written": self.last_bytes_written / self.input_bytes,
            **self.stream,
        }


def _transpose(word: str, rs) -> str:
    """The word with one seeded typo: two unequal adjacent letters swapped.
    A transposition keeps the word's letters, so the char-bitmask
    prefilter passes the same candidates for every seed."""
    i = rs.choice([j for j in range(len(word) - 1) if word[j] != word[j + 1]])
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]


class FuzzySearch:
    """A seeded stream of one-edit typo queries through ``top_matches``.
    One op is a query pair: an edit-distance query over the caption-token
    vocabulary, then a Smith-Waterman query over the captions.  Pairing the
    two modes keeps the per-op wall unimodal, so its median is steady."""

    # Under the JVM's default tiered JIT, pair walls fall from ~1.05 s to a
    # steady ~0.77 s only after ~30 pairs, while C2 compiles the planner;
    # the timed window would sit in that drift.  With C1 alone they reach
    # the same ~0.78 s within ~6 pairs (4-vCPU VM): this path is driver
    # planning, which C2 does not speed up.  The three cold ops count
    # towards those six.
    jvm_options = "-XX:TieredStopAtLevel=1"
    warmup_ops = 3
    # the cold op takes ~3 s, too short to time once on a noisy host: it
    # is timed in each set-up session (a fresh session pays Python worker
    # boot again, nearly all of its cost) and the median reported
    cold_passes = 3
    min_ops = 5
    ed_k, sw_k = 10, 20
    layer_prefixes = ("kernels.score", "topk")

    def __init__(self, n_docs: int):
        self.n_docs = n_docs
        self.expected: dict = {}

    def build(self, spark, seed: int, work: str, tracer=None) -> None:
        from pyspark.sql import functions as F

        from fuzzymatch_spark.config import MatchConfig

        self.spark = spark
        self.docs = load_documents(spark, self.n_docs, seed, f"{work}/docs")
        vocab_path = f"{work}/vocab"
        (self.docs.select(F.explode(F.split("text", " ")).alias("token"))
         .filter(F.length("token") > 0).distinct()
         .write.parquet(vocab_path))
        self.vocab = spark.read.parquet(vocab_path)
        self.ed_cfg = MatchConfig()
        self.sw_cfg = MatchConfig(algorithm="smithWaterman", min_score=0.1)
        # every run queries the same five-letter words, in a seeded order and
        # pairing with seeded typos, so the per-op work does not vary by seed
        words = sorted(w for w in (r[0] for r in self.vocab.collect()) if len(w) == 5)
        rs = np.random.RandomState(seed % 2**32)
        ed, a, b = (rs.permutation(words) for _ in range(3))
        self.queries = [
            (_transpose(ed[i], rs), f"{a[i]} {_transpose(b[i], rs)}") for i in range(len(words))
        ]
        self.items = 2
        self.ops = 0

    def _modes(self, pair):
        ed, sw = pair
        return (
            (self.vocab, "token", ed, self.ed_k, self.ed_cfg),
            (self.docs, "text", sw, self.sw_k, self.sw_cfg),
        )

    def op(self):
        from fuzzymatch_spark.api import top_matches

        pair = self.queries[self.ops % len(self.queries)]
        self.ops += 1
        got = [
            [(r[col], r["score"]) for r in top_matches(df, col, q, k=k, config=cfg).collect()]
            for df, col, q, k, cfg in self._modes(pair)
        ]
        return pair, got

    def _expected(self, pair):
        """Driver-local ranking of the same candidates by ``api.score_many``
        under ``top_matches``' order: score desc, length asc, text asc."""
        from fuzzymatch_spark.api import score_many

        if pair not in self.expected:
            ranks = []
            for df, col, q, k, cfg in self._modes(pair):
                cands = [r[0] for r in df.select(col).collect()]
                scored = [
                    (c, s[0]) for c, s in zip(cands, score_many(cands, q, cfg)) if s is not None
                ]
                scored.sort(key=lambda cs: (-cs[1], len(cs[0]), cs[0].encode()))
                ranks.append(scored[:k])
            self.expected[pair] = ranks
        return self.expected[pair]

    def check(self, out) -> list[str]:
        pair, got = out
        errors = []
        for q, g, e in zip(pair, got, self._expected(pair)):
            if [c for c, _ in g] != [c for c, _ in e] or any(
                abs(a - b) > 1e-9 for (_, a), (_, b) in zip(g, e)
            ):
                errors.append(f"top-k for {q!r} differs from the driver-local ranking")
        return errors

    def traced(self, tracer) -> list[str]:
        """Each mode of one query pair split into driver construction (the
        call that returns the lazy frame) and execution (the collect); then
        the scoring kernel on the driver."""
        from fuzzymatch_spark.api import score_many, top_matches

        modes = self._modes(self.queries[0])
        self.corpus_rows = [df.count() for df, *_ in modes]
        with tracer.span("op.traced"):
            for df, col, q, k, cfg in modes:
                with tracer.span("topk.construct"):
                    frame = top_matches(df, col, q, k=k, config=cfg)
                with tracer.span("topk.execute"):
                    frame.collect()
        self.score_us = []
        for df, col, q, _, cfg in modes:
            cands = [r[0] for r in df.select(col).collect()]
            self.score_us.append(_per_item_us(lambda: score_many(cands, q, cfg), len(cands)))
        return []

    def layers(self, tracer, groups: dict) -> dict:
        constructs = [s for s in tracer.spans if s.name == "topk.construct"]
        execs = [s for s in tracer.spans if s.name == "topk.execute"]
        return {
            "kernels.score_ed_us": self.score_us[0],
            "kernels.score_sw_us": self.score_us[1],
            "topk.construct_s": float(np.mean([s.wall for s in constructs])),
            "topk.execute_s": float(np.mean([s.wall for s in execs])),
            "topk.jobs_per_query": float(np.mean([s.jobs for s in execs])),
            "topk.udf_rows_frac": float(np.mean([
                group_value(groups, s, "python_rows") / n
                for s, n in zip(execs, self.corpus_rows)
            ])),
        }


WORKLOADS = {"corpus_dedup": CorpusDedup, "fuzzy_search": FuzzySearch}
