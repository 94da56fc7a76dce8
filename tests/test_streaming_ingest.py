"""Incremental signature ingest: new files processed exactly once; a second
run with the same stream checkpoint processes only NEW files (the streaming
counterpart of the pipeline resume guarantee)."""

import os

import pytest

from fuzzymatch_spark.streaming.ingest import incremental_signatures

SCHEMA = "doc_id bigint, text string"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_incremental_exactly_once(spark, tmp_path):
    inp = str(tmp_path / "landing")
    out = str(tmp_path / "signatures")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, inp, [(1, "spark shuffle join"), (2, "window batch scan")])
    incremental_signatures(spark, inp, SCHEMA, out, ckpt, "doc_id", "text")
    first = spark.read.parquet(out)
    assert first.count() == 2
    assert {r["id"] for r in first.collect()} == {1, 2}
    cols = set(first.columns)
    assert {"caption_norm", "minhash_sig", "simhash", "char_mask"} <= cols

    # second landing batch: only the 2 new rows are processed
    _write_batch(spark, inp, [(3, "stream table merge"), (4, "hash key sort")])
    incremental_signatures(spark, inp, SCHEMA, out, ckpt, "doc_id", "text")
    second = spark.read.parquet(out)
    assert second.count() == 4  # no re-processing of files 1-2
    assert {r["id"] for r in second.collect()} == {1, 2, 3, 4}

    # re-run with nothing new: no-op
    incremental_signatures(spark, inp, SCHEMA, out, ckpt, "doc_id", "text")
    assert spark.read.parquet(out).count() == 4


def test_incremental_dedup_cross_batch(spark, tmp_path):
    """Incremental LSH dedup: a near-dup landing in a LATER micro-batch is
    paired against the accumulated corpus without rescanning history, and
    the final edge set equals the batch pipeline's on the same corpus."""
    from pyspark.sql import functions as F

    from fuzzymatch_spark.config import DedupConfig
    from fuzzymatch_spark.operators.dedup import (
        compute_signatures,
        exact_dup_edges,
        minhash_band_edges,
        verify_edges,
    )
    from fuzzymatch_spark.streaming.ingest import incremental_dedup

    cfg = DedupConfig(min_score=0.72)
    inp = str(tmp_path / "landing")
    work = str(tmp_path / "dedup")
    ckpt = str(tmp_path / "ckpt2")

    batch1 = [(1, "spark shuffle partition join window"),
              (2, "hash key order fast small"),
              (3, "image caption pixel frame engine")]
    # 4 = typo near-dup of 1 (cross-batch); 6 = exact dup of 2 (cross-batch)
    batch2 = [(4, "spark shuffle partition join windoww"),
              (5, "totally different vector query index"),
              (6, "hash key order fast small")]

    _write_batch(spark, inp, batch1)
    incremental_dedup(spark, inp, SCHEMA, work, ckpt, "doc_id", "text", cfg=cfg)
    _write_batch(spark, inp, batch2)
    incremental_dedup(spark, inp, SCHEMA, work, ckpt, "doc_id", "text", cfg=cfg)

    edges = spark.read.parquet(f"{work}/edges")
    got = {(r["a_id"], r["b_id"]) for r in edges.collect()}
    assert (1, 4) in got, got  # cross-batch near-dup
    assert (2, 6) in got, got  # cross-batch exact dup

    # parity with the batch pipeline (same candidate sources: exact+minhash)
    full = spark.createDataFrame(batch1 + batch2, SCHEMA)
    sig = compute_signatures(full, "doc_id", "text", cfg)
    cand = (
        exact_dup_edges(sig).select("a_id", "b_id", "source")
        .unionByName(minhash_band_edges(sig, cfg).select("a_id", "b_id", "source"))
        .groupBy("a_id", "b_id").agg(F.min("source").alias("source"))
    )
    want = {(r["a_id"], r["b_id"])
            for r in verify_edges(cand, sig, cfg).collect()}
    assert got == want, (got, want)

    # exactly-once: nothing new -> edge table unchanged
    incremental_dedup(spark, inp, SCHEMA, work, ckpt, "doc_id", "text", cfg=cfg)
    assert spark.read.parquet(f"{work}/edges").count() == edges.count()


def test_dedup_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch under the same
    batch_id (crash before the stream-checkpoint commit) must leave every
    table with the same row sets — no duplicated edges, no doubled
    signatures, markers intact."""
    from fuzzymatch_spark.config import DedupConfig
    from fuzzymatch_spark.streaming.ingest import committed_batches, make_dedup_sink

    cfg = DedupConfig(min_score=0.72)
    work = str(tmp_path / "dedup_replay")
    sink = make_dedup_sink(spark, work, "doc_id", "text", cfg)
    b0 = spark.createDataFrame(
        [(1, "spark shuffle partition join window"),
         (2, "hash key order fast small")], SCHEMA)
    b1 = spark.createDataFrame(
        [(3, "spark shuffle partition join windoww"),
         (4, "hash key order fast small")], SCHEMA)
    sink(b0, 0)
    sink(b1, 1)

    def snap():
        e = spark.read.parquet(f"{work}/edges")
        s = spark.read.parquet(f"{work}/signatures")
        return (
            sorted((r["a_id"], r["b_id"], r["source"]) for r in e.collect()),
            sorted(r["id"] for r in s.collect()),
        )

    before = snap()
    sink(b1, 1)  # simulated at-least-once replay
    assert snap() == before
    pairs = {(a, b) for a, b, _ in before[0]}
    assert (1, 3) in pairs and (2, 4) in pairs
    assert committed_batches(spark, f"{work}/_commits") == [0, 1]


def test_dedup_sink_crash_before_commit(spark, tmp_path):
    """Crash INSIDE the vulnerable window (tables written, marker not):
    the batch must be invisible to committed readers, and the replay must
    converge to exactly the clean-run state — no duplicate edges, no
    history double-join of the batch's own signatures."""
    from fuzzymatch_spark.config import DedupConfig
    from fuzzymatch_spark.streaming.ingest import (
        committed_batches,
        make_dedup_sink,
        read_committed,
    )

    cfg = DedupConfig(min_score=0.72)
    work = str(tmp_path / "dedup_crash")

    class Boom(RuntimeError):
        pass

    crashes = {"armed": True}

    def fault(batch_id):
        if batch_id == 1 and crashes["armed"]:
            crashes["armed"] = False
            raise Boom(f"injected crash before commit of batch {batch_id}")

    sink = make_dedup_sink(spark, work, "doc_id", "text", cfg,
                           on_before_commit=fault)
    b0 = spark.createDataFrame(
        [(1, "spark shuffle partition join window"),
         (2, "hash key order fast small")], SCHEMA)
    b1 = spark.createDataFrame(
        [(3, "spark shuffle partition join windoww"),
         (4, "hash key order fast small")], SCHEMA)
    sink(b0, 0)

    with pytest.raises(Boom):
        sink(b1, 1)  # crashes after edges/signatures/bands writes

    # batch 1 is written but NOT committed: invisible to committed readers
    assert committed_batches(spark, f"{work}/_commits") == [0]
    assert os.path.isdir(f"{work}/edges/batch=1")  # data landed
    committed_sig = read_committed(spark, work, "signatures")
    assert {r["id"] for r in committed_sig.collect()} == {1, 2}

    sink(b1, 1)  # stream replay under the SAME batch id
    assert committed_batches(spark, f"{work}/_commits") == [0, 1]

    edges = spark.read.parquet(f"{work}/edges")
    got = sorted((r["a_id"], r["b_id"]) for r in edges.collect())
    assert got == [(1, 3), (2, 4)], got  # exactly once, incl. cross-batch
    sig = spark.read.parquet(f"{work}/signatures")
    assert sorted(r["id"] for r in sig.collect()) == [1, 2, 3, 4]


def test_incremental_phash_dedup_cross_batch(spark, tmp_path):
    """Image-side incremental dedup: a near-dup pHash landing in a LATER
    micro-batch pairs against the committed history (re-keyed in-task),
    at the radius itself but not one bit past it, replay is idempotent,
    and the edge set equals the batch self-join's over the full
    corpus."""
    from pyspark.sql import functions as F

    from fuzzymatch_spark.operators.dedup import _hamming_band_edges
    from fuzzymatch_spark.streaming.ingest import (
        committed_batches,
        incremental_phash_dedup,
        make_phash_dedup_sink,
    )

    pschema = "image_id string, phash bigint"
    base = 0x5555555555555555
    b1 = [("i1", 0), ("i2", base), ("i3", 0x0F0F0F0F0F0F0F0F)]
    # i4 = 3-bit-flip twin of i1 (cross-batch); i6 = exact dup of i2
    b2 = [("i4", 0b10000000101), ("i5", 0x00FF00FF00FF00FF), ("i6", base)]
    # i7 = Hamming 6 (at radius) from i3; i8 = Hamming 7 from i5
    b3 = [("i7", 0x0F0F0F0F0F0F0F0F ^ 0x3F), ("i8", 0x00FF00FF00FF00FF ^ 0x7F)]

    inp = str(tmp_path / "landing")
    work = str(tmp_path / "phwork")
    ckpt = str(tmp_path / "phckpt")
    spark.createDataFrame(b1, pschema).coalesce(1).write.mode("append").parquet(inp)
    incremental_phash_dedup(spark, inp, pschema, work, ckpt)
    spark.createDataFrame(b2, pschema).coalesce(1).write.mode("append").parquet(inp)
    incremental_phash_dedup(spark, inp, pschema, work, ckpt)
    spark.createDataFrame(b3, pschema).coalesce(1).write.mode("append").parquet(inp)
    incremental_phash_dedup(spark, inp, pschema, work, ckpt)

    assert committed_batches(spark, f"{work}/_commits") == [0, 1, 2]
    edges = spark.read.parquet(f"{work}/edges")
    got = {(r["a_id"], r["b_id"]) for r in edges.collect()}
    assert got == {("i1", "i4"), ("i2", "i6"), ("i3", "i7")}, got

    # parity with the batch self-join over the full corpus
    full = spark.createDataFrame(b1 + b2 + b3, pschema)
    want = {
        (r["a_id"], r["b_id"])
        for r in _hamming_band_edges(
            full, "image_id", "phash", 8, 6, "phash"
        ).collect()
    }
    assert got == want

    # replay idempotency: re-invoke the sink under the last batch id
    sink = make_phash_dedup_sink(spark, work)
    sink(spark.createDataFrame(b3, pschema), 2)
    again = {(r["a_id"], r["b_id"])
             for r in spark.read.parquet(f"{work}/edges").collect()}
    assert again == got


def test_incremental_labels_match_full_cc(spark, tmp_path):
    """Incremental cluster maintenance (VERDICT r5 item 6): after EVERY
    micro-batch, the maintained label view must equal a from-scratch CC
    re-run over the union of committed edges — including the batch where
    two previously separate components merge through a bridging row."""
    from fuzzymatch_spark.operators.cluster import cluster_assignments
    from fuzzymatch_spark.streaming.ingest import (
        current_labels,
        make_phash_dedup_sink,
        read_committed,
    )

    pschema = "image_id string, phash bigint"
    work = str(tmp_path / "labwork")
    sink = make_phash_dedup_sink(spark, work)

    # batch0: a and b far apart (12 bits) -> two singletons
    # batch1: c twin of a, d twin of b -> components {a,c} and {b,d}
    # batch2: e within Hamming 6 of BOTH a and b -> merges everything
    batches = [
        [("a", 0x000), ("b", 0xFFF)],
        [("c", 0x001), ("d", 0xFFE)],
        [("e", 0x03F)],
    ]
    seen: list = []
    for i, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, pschema), i)
        seen.extend(rows)

        edges = read_committed(spark, work, "edges")
        ids = spark.createDataFrame(seen, pschema).select("image_id")
        full = {
            r["image_id"]: r["cluster_id"]
            for r in cluster_assignments(edges, ids, id_col="image_id").collect()
        }
        inc = {
            r["id"]: r["label"]
            for r in current_labels(spark, work).collect()
        }
        assert inc == full, (i, inc, full)

    # the merge batch really did rewrite old components
    assert inc == {k: "a" for k in ["a", "b", "c", "d", "e"]}

    # replay of the merge batch under the same id: labels unchanged
    sink(spark.createDataFrame(batches[2], pschema), 2)
    again = {
        r["id"]: r["label"] for r in current_labels(spark, work).collect()
    }
    assert again == inc


def test_compact_labels_preserves_view(spark, tmp_path):
    """LSM compaction: folding the label deltas into one partition leaves
    ``current_labels`` identical, removes the older delta dirs, and later
    batches keep merging correctly on top of the compacted table."""
    import os

    from fuzzymatch_spark.streaming.ingest import (
        compact_labels,
        current_labels,
        make_phash_dedup_sink,
    )

    pschema = "image_id string, phash bigint"
    work = str(tmp_path / "compactwork")
    sink = make_phash_dedup_sink(spark, work)
    batches = [
        [("a", 0x000), ("b", 0xFFF)],
        [("c", 0x001), ("d", 0xFFE)],
    ]
    for i, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, pschema), i)
    before = {
        r["id"]: r["label"] for r in current_labels(spark, work).collect()
    }
    assert compact_labels(spark, work) == 1
    after = {
        r["id"]: r["label"] for r in current_labels(spark, work).collect()
    }
    assert after == before
    dirs = sorted(os.listdir(os.path.join(work, "labels")))
    # the TOP delta stays live (it is the one batch a restarted stream can
    # replay); everything below it folds into the compacted view
    assert dirs == ["batch=1", "compacted=1"]
    # nothing left to compact
    assert compact_labels(spark, work) == 0

    # at-least-once replay of the TOP batch after compaction: the sink
    # overwrites batch=1 and must still see/produce the identical view
    # (the motivating failure of folding INTO the top delta)
    sink(spark.createDataFrame(batches[1], pschema), 1)
    assert {
        r["id"]: r["label"] for r in current_labels(spark, work).collect()
    } == before

    # a post-compaction merge batch still rewrites old components
    sink(spark.createDataFrame([("e", 0x03F)], pschema), 2)
    final = {
        r["id"]: r["label"] for r in current_labels(spark, work).collect()
    }
    assert final == {k: "a" for k in ["a", "b", "c", "d", "e"]}

    # crash-after-rename leftovers: a stale delta below the cover point is
    # ignored by the read path and swept by the next compaction call
    assert compact_labels(spark, work) == 1  # folds batch=1 into compacted=2
    import shutil

    stale = os.path.join(work, "labels", "batch=0")
    src = os.path.join(work, "labels", "batch=2")
    shutil.copytree(src, stale)
    assert {
        r["id"]: r["label"] for r in current_labels(spark, work).collect()
    } == final
    assert compact_labels(spark, work) == 1  # cleanup-only pass
    assert not os.path.isdir(stale)


def test_text_sink_labels_cross_batch(spark, tmp_path):
    """Text-side label maintenance: near/exact dup landing later joins the
    existing component, and the view matches a full CC re-run."""
    from fuzzymatch_spark.config import DedupConfig
    from fuzzymatch_spark.operators.cluster import cluster_assignments
    from fuzzymatch_spark.streaming.ingest import (
        current_labels,
        make_dedup_sink,
        read_committed,
    )

    cfg = DedupConfig(min_score=0.72)
    work = str(tmp_path / "textlab")
    sink = make_dedup_sink(spark, work, "doc_id", "text", cfg)
    b0 = [(1, "spark shuffle partition join window"),
          (2, "hash key order fast small")]
    b1 = [(3, "spark shuffle partition join windoww"),
          (4, "hash key order fast small")]
    sink(spark.createDataFrame(b0, SCHEMA), 0)
    sink(spark.createDataFrame(b1, SCHEMA), 1)

    from pyspark.sql import functions as F

    edges = read_committed(spark, work, "edges")
    ids = spark.createDataFrame(b0 + b1, SCHEMA).select(
        F.col("doc_id").alias("id")
    )
    full = {
        r["id"]: r["cluster_id"]
        for r in cluster_assignments(edges, ids, id_col="id").collect()
    }
    inc = {r["id"]: r["label"] for r in current_labels(spark, work).collect()}
    assert inc == full
    assert inc == {1: 1, 2: 2, 3: 1, 4: 2}


def test_incremental_decontamination_gate(spark, tmp_path):
    """In-flight decontamination: exact-tier and fuzzy-tier leaks are
    routed to flagged/, clean docs to clean/, across micro-batches; a
    second AvailableNow pass processes only new files."""
    from fuzzymatch_spark.streaming.ingest import incremental_decontamination

    inp = str(tmp_path / "landing")
    work = str(tmp_path / "decon")
    ckpt = str(tmp_path / "ckpt")

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    bench = spark.createDataFrame([(900, bench_text)], SCHEMA)

    # batch 1: one exact-gram leak, one clean doc
    _write_batch(spark, inp, [
        (1, "prefix " + bench_text + " suffix"),     # shares 3-grams
        (2, "completely unrelated corpus document"),
    ])
    incremental_decontamination(
        spark, inp, SCHEMA, work, ckpt, "doc_id", "text", bench
    )
    clean = spark.read.parquet(f"{work}/clean")
    flagged = spark.read.parquet(f"{work}/flagged")
    assert {r["doc_id"] for r in clean.collect()} == {2}
    assert {r["doc_id"] for r in flagged.collect()} == {1}

    # batch 2: a TOKEN-REVERSED copy of the bench doc — invisible to the
    # exact token-gram tier, caught by the fuzzy shingle tier
    rev = " ".join(reversed(bench_text.split(" ")))
    _write_batch(spark, inp, [(3, rev), (4, "another clean one entirely")])
    incremental_decontamination(
        spark, inp, SCHEMA, work, ckpt, "doc_id", "text", bench
    )
    clean2 = {r["doc_id"] for r in
              spark.read.parquet(f"{work}/clean").collect()}
    flagged2 = {r["doc_id"]: r for r in
                spark.read.parquet(f"{work}/flagged").collect()}
    assert clean2 == {2, 4}
    assert set(flagged2) == {1, 3}
    assert flagged2[3]["contaminated"] == 0       # exact tier blind
    assert flagged2[3]["fuzzy_contaminated"] == 1  # fuzzy tier catches
    # clean output carries no flag columns (training-ready rows; `batch`
    # is the partition directory surfacing as a column on read)
    assert set(spark.read.parquet(f"{work}/clean").columns) == {
        "doc_id", "text", "batch"
    }


def test_decontamination_sink_replay_idempotent(spark, tmp_path):
    from fuzzymatch_spark.streaming.ingest import (
        committed_batches,
        make_decontamination_sink,
    )

    work = str(tmp_path / "decon_replay")
    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    bench = spark.createDataFrame([(900, bench_text)], SCHEMA)
    sink = make_decontamination_sink(
        spark, work, "doc_id", "text", bench
    )
    b0 = spark.createDataFrame(
        [(1, "prefix " + bench_text), (2, "something else entirely here")],
        SCHEMA)
    sink(b0, 0)

    def snap():
        return (
            sorted(r["doc_id"] for r in
                   spark.read.parquet(f"{work}/clean").collect()),
            sorted(r["doc_id"] for r in
                   spark.read.parquet(f"{work}/flagged").collect()),
        )

    before = snap()
    sink(b0, 0)  # simulated at-least-once replay
    assert snap() == before == ([2], [1])
    assert committed_batches(spark, f"{work}/_commits") == [0]


def test_phash_sink_benchmark_screen(spark, tmp_path):
    """In-flight image decontamination: a stream row within the decon
    radius of a static benchmark hash is quarantined into
    decon/batch=<id> (with hit stats), excluded from edges, phash
    history, AND labels — while clean near-dups still link cross-batch;
    replay of the screened batch is idempotent."""
    from pyspark.sql import functions as F

    from fuzzymatch_spark.streaming.ingest import make_phash_dedup_sink

    pschema = "image_id string, phash bigint"
    base = 0x5555555555555555
    work = str(tmp_path / "dwork")
    bench = spark.createDataFrame(
        [("ev0", base ^ 3)], "bench_id string, phash bigint"
    )
    sink = make_phash_dedup_sink(
        spark, work, bench_df=bench, decon_max_hamming=6
    )

    # batch 0: i2 is Hamming-2 from the benchmark -> quarantined;
    # i1/i3 clean
    sink(spark.createDataFrame(
        [("i1", 0), ("i2", base), ("i3", 0x0F0F0F0F0F0F0F0F)], pschema), 0)
    # batch 1: i4 = near-twin of i1 (clean cross-batch dup);
    # i6 = exact dup of the QUARANTINED i2 -> itself within the radius
    # of the bench hash, so it is quarantined too (never pairs with i2)
    sink(spark.createDataFrame(
        [("i4", 0b10000000101), ("i6", base)], pschema), 1)

    decon = spark.read.parquet(f"{work}/decon")
    drows = {r["image_id"]: r for r in decon.collect()}
    assert set(drows) == {"i2", "i6"}
    assert drows["i2"]["min_hamming"] == 2
    assert drows["i2"]["n_bench_hits"] == 1

    edges = {(r["a_id"], r["b_id"])
             for r in spark.read.parquet(f"{work}/edges").collect()}
    assert edges == {("i1", "i4")}, edges

    hist = {r["image_id"]
            for r in spark.read.parquet(f"{work}/phashes").collect()}
    assert hist == {"i1", "i3", "i4"}

    labels = spark.read.parquet(f"{work}/labels")
    assert {r["id"] for r in labels.collect()} == {"i1", "i3", "i4"}

    # replay idempotency under the screen
    sink(spark.createDataFrame([("i4", 0b10000000101), ("i6", base)],
                               pschema), 1)
    assert {r["image_id"] for r in
            spark.read.parquet(f"{work}/decon").collect()} == {"i2", "i6"}
    assert {(r["a_id"], r["b_id"]) for r in
            spark.read.parquet(f"{work}/edges").collect()} == {("i1", "i4")}


def test_decontamination_sink_embedding_tier(spark, tmp_path):
    """The streaming SEMANTIC tier: a batch row whose embedding sits
    within the cosine threshold of a benchmark embedding is flagged
    (emb tier only — its text shares nothing with the benchmark), while
    text-tier behavior is unchanged; clean rows keep no flag columns."""
    import numpy as np

    from fuzzymatch_spark.streaming.ingest import make_decontamination_sink

    rng = np.random.RandomState(11)
    vecs = {i: [float(x) for x in rng.randn(16)] for i in range(1, 5)}
    schema = "doc_id long, text string, embedding array<double>"
    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    bench = spark.createDataFrame(
        [(900, bench_text)], "doc_id long, text string"
    )
    bench_emb = spark.createDataFrame(
        [("ev", [x + 0.02 for x in vecs[3]])],  # ~cos 0.99 vs doc 3 only
        "bench_id string, embedding array<double>",
    )
    work = str(tmp_path / "embdecon")
    sink = make_decontamination_sink(
        spark, work, "doc_id", "text", bench,
        bench_embeddings_df=bench_emb,
    )
    rows = [
        (1, "prefix " + bench_text + " suffix", vecs[1]),  # exact-tier leak
        (2, "completely unrelated corpus document", vecs[2]),
        (3, "another unrelated text entirely here", vecs[3]),  # emb leak
        (4, "fourth clean document text goes here", vecs[4]),
    ]
    sink(spark.createDataFrame(rows, schema), 0)

    clean = spark.read.parquet(f"{work}/clean")
    flagged = {r["doc_id"]: r for r in
               spark.read.parquet(f"{work}/flagged").collect()}
    assert {r["doc_id"] for r in clean.collect()} == {2, 4}
    assert set(flagged) == {1, 3}
    assert flagged[3]["contaminated"] == 0          # text tiers blind
    assert flagged[3]["fuzzy_contaminated"] == 0
    assert flagged[3]["emb_contaminated"] == 1      # semantic tier catches
    assert flagged[3]["emb_max_cos"] >= 0.95
    assert flagged[1]["contaminated"] == 1 and flagged[1]["emb_contaminated"] == 0
    assert set(clean.columns) == {"doc_id", "text", "embedding", "batch"}
