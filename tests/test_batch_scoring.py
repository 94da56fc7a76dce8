"""Batch scorer == scalar scorer, property-tested over the full phase
pipeline (prefilters, exact, prefix/substring DL, subsequence, acronym,
bonuses) across configs, scripts, and adversarial string shapes.

The scalar ``score_pair`` is the golden-fixture-pinned reference
implementation (tests/test_kernels_golden.py); ``batch_score_pairs`` must be
bit-identical to it on every row — same floats, same kinds, same rejects.
"""

import numpy as np
import pytest

from fuzzymatch_spark.config import EditDistanceConfig, MatchConfig
from fuzzymatch_spark.kernels.batch_scoring import (
    BatchCandidates,
    batch_score_pairs,
)
from fuzzymatch_spark.kernels.scoring import prepare_query, score_pair

WORDS = (
    "spark shuffle partition join window batch stream table scan merge sort "
    "hash key order fast small dup near exact image caption pixel frame "
    "Goldman Sachs Group Alpha Industries fooBar snake_case UPPER 42x"
).split()

EDGE_STRINGS = [
    "", " ", "a", "ab", "a b c", "___", "straem", "stream", "Stream",
    "the stream processor", "str", "s", "b m s", "bms corp",
    "ba", "aaaa", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
    "Crème brûlée", "Σίγμα", "Москва city", "naïve user", "café",
    "x" * 300, ("word " * 80).strip(),
]


def _mutate(rng, s: str) -> str:
    if len(s) < 3:
        return s + "x"
    ops = rng.randint(4)
    chars = list(s)
    p = rng.randint(0, len(chars) - 2)
    if ops == 0:  # transpose
        chars[p], chars[p + 1] = chars[p + 1], chars[p]
    elif ops == 1:  # delete
        del chars[p]
    elif ops == 2:  # insert
        chars.insert(p, "z")
    else:  # substitute
        chars[p] = "q"
    return "".join(chars)


def _corpus(rng, n=120) -> list[str]:
    rows = list(EDGE_STRINGS)
    for _ in range(n):
        nw = rng.randint(1, 6)
        rows.append(" ".join(WORDS[rng.randint(len(WORDS))] for _ in range(nw)))
    return rows


def _queries(rng, corpus) -> list[str]:
    qs = ["", "a", "ab", "bms", "straem", "stream batch", "Crème", "Σίγμα"]
    for _ in range(25):
        base = corpus[rng.randint(len(corpus))]
        r = rng.rand()
        if r < 0.3:
            qs.append(_mutate(rng, base))
        elif r < 0.5:
            qs.append(base[: max(1, len(base) // 2)])  # prefix
        elif r < 0.7:
            qs.append(base[len(base) // 3 : 2 * len(base) // 3])  # substring
        elif r < 0.85 and " " in base:
            qs.append("".join(w[0] for w in base.split() if w))  # acronym
        else:
            qs.append(base)
    return qs


CONFIGS = [
    MatchConfig(),  # reference defaults (bonuses + affine gaps)
    MatchConfig(min_score=0.1),
    MatchConfig(min_score=0.6),
    MatchConfig(edit_distance=EditDistanceConfig.no_bonus()),
    MatchConfig(edit_distance=EditDistanceConfig.fzf_aligned()),
    MatchConfig(algorithm="smithWaterman", min_score=0.1),
    MatchConfig(algorithm="smithWaterman", min_score=0.3),
]


@pytest.mark.parametrize("cfg_i", range(len(CONFIGS)))
def test_batch_equals_scalar(cfg_i):
    cfg = CONFIGS[cfg_i]
    rng = np.random.RandomState(100 + cfg_i)
    corpus = _corpus(rng)
    raws = [c.encode("utf-8") for c in corpus]
    cands = BatchCandidates(raws)
    n_scored = 0
    for qt in _queries(rng, corpus):
        q = prepare_query(qt, cfg)
        scores, kinds = batch_score_pairs(cands, q)
        for k, raw in enumerate(raws):
            want = score_pair(raw, q)
            got = (
                None if np.isnan(scores[k]) else (float(scores[k]), kinds[k])
            )
            assert got == want, (
                f"cfg{cfg_i} query={qt!r} cand={corpus[k]!r}: "
                f"batch={got} scalar={want}"
            )
            if want is not None:
                n_scored += 1
    assert n_scored > 50  # the workload actually exercises matches


def test_batch_empty_and_degenerate():
    cfg = MatchConfig()
    cands = BatchCandidates([])
    q = prepare_query("abc", cfg)
    scores, kinds = batch_score_pairs(cands, q)
    assert scores.shape == (0,) and kinds == []

    cands1 = BatchCandidates([b"", b"abc"])
    s, k = batch_score_pairs(cands1, prepare_query("", cfg))
    # empty query matches everything exactly (reference semantics)
    assert k == ["exact", "exact"] and (s == 1.0).all()


def test_batch_levenshtein_matches_reference_impl():
    """Plain-Levenshtein batch kernel vs a trivial O(nm) scalar DP."""
    from fuzzymatch_spark.kernels.editdist import batch_levenshtein

    def slow_lev(a: bytes, b: bytes) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a):
            cur = [i + 1]
            for j, cb in enumerate(b):
                cur.append(min(prev[j + 1] + 1, cur[j] + 1,
                               prev[j] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = np.random.RandomState(5)
    words = [b"", b"a", b"spark", b"sprk", b"shuffle", b"shuffel",
             b"partition", b"partitoin", b"stream", b"straem", b"batch"]
    pairs = [(words[rng.randint(len(words))], words[rng.randint(len(words))])
             for _ in range(300)]
    for max_ed in (0, 1, 2, 5):
        got = batch_levenshtein([p[0] for p in pairs],
                                [p[1] for p in pairs], max_ed)
        for k, (a, b) in enumerate(pairs):
            want = min(slow_lev(a, b), max_ed + 1)
            assert got[k] == want, (a, b, max_ed, got[k], want)


def _sw_corpus(rng, n: int, max_words: int) -> list[bytes]:
    """Captions with spaces, delimiters, camelCase and digits, in random
    length order."""
    seps = [" ", " ", "/", ":", "_", "-", "|"]
    rows = []
    for _ in range(n):
        k = rng.randint(1, max_words + 1)
        parts = [WORDS[rng.randint(len(WORDS))] for _ in range(k)]
        rows.append("".join(p + seps[rng.randint(len(seps))] for p in parts)[:-1])
    return [r.encode() for r in rows]


def test_batch_sw_chunks_equal_scalar(monkeypatch):
    """The SW column sweep over length-sorted chunks equals the scalar DP,
    row for row, in the caller's order.  A small cell budget forces many
    chunks, rows longer than the budget alone, and atoms from 1 byte up to
    longer than every candidate."""
    from fuzzymatch_spark.config import SmithWatermanConfig
    from fuzzymatch_spark.kernels import batch_scoring
    from fuzzymatch_spark.kernels.sw import smith_waterman_score

    monkeypatch.setattr(batch_scoring, "_SW_CHUNK_CELLS", 256)
    rng = np.random.RandomState(11)
    raws = _sw_corpus(rng, 70, 40)
    assert max(map(len, raws)) > 256
    cands = BatchCandidates(raws)
    sw = SmithWatermanConfig()
    bonus = cands.sw_bonus_matrix(sw)
    rows = rng.permutation(cands.n)
    longest = int(cands.lens.max())
    atoms = [b"s", b"sq", b"spark", b"shuffel", b"goldmansachs",
             b"abcdefghijklmnopqrstuvwxyz0123456789", b"k" * (longest + 3)]
    av = [np.frombuffer(a, dtype=np.uint8).astype(np.int16) for a in atoms]
    got = batch_scoring._batch_sw_scores(cands.C, cands.lens, bonus, rows, av, sw)
    for t, atom in enumerate(atoms):
        for j, k in enumerate(rows):
            want = smith_waterman_score(atom, cands.norms[k], bonus[k, : cands.lens[k]], sw)
            assert got[t, j] == want, (atom, raws[k], got[t, j], want)

    cfg = MatchConfig(algorithm="smithWaterman", min_score=0.1)
    n_scored = 0
    for qt in ["s", "spark", "shufle batch", "goldman sachs group",
               "key hash sort order", "fooBar 42x", "x" * (longest + 3)]:
        q = prepare_query(qt, cfg)
        scores, kinds = batch_score_pairs(cands, q)
        for k, raw in enumerate(raws):
            got_k = None if np.isnan(scores[k]) else (float(scores[k]), kinds[k])
            assert got_k == score_pair(raw, q), (qt, raw)
            n_scored += got_k is not None
    assert n_scored > 100


def test_batch_sw_default_chunks_equal_one_block(monkeypatch):
    """Under the default cell budget a few hundred captions split into
    several chunks; the scores equal one unchunked sweep's."""
    from fuzzymatch_spark.config import SmithWatermanConfig
    from fuzzymatch_spark.kernels import batch_scoring

    raws = _sw_corpus(np.random.RandomState(12), 600, 40)
    assert sum(map(len, raws)) > 2 * batch_scoring._SW_CHUNK_CELLS
    cands = BatchCandidates(raws)
    sw = SmithWatermanConfig()
    bonus = cands.sw_bonus_matrix(sw)
    rows = np.random.RandomState(13).permutation(cands.n)
    av = [np.frombuffer(a, dtype=np.uint8).astype(np.int16)
          for a in (b"q", b"spark", b"goldmansachs")]
    chunked = batch_scoring._batch_sw_scores(cands.C, cands.lens, bonus, rows, av, sw)
    monkeypatch.setattr(batch_scoring, "_SW_CHUNK_CELLS", 1 << 40)
    whole = batch_scoring._batch_sw_scores(cands.C, cands.lens, bonus, rows, av, sw)
    assert (chunked == whole).all() and (whole > 0).any()


def test_batch_sw_memory_flat():
    """A 2,000 x 2,000-byte batch scores in chunks: the SW sweep's
    tracemalloc peak stays under 64 MB (one unchunked block peaked at
    2.0 GB).  The batch's own matrices are built before tracing."""
    import tracemalloc

    rng = np.random.RandomState(2)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz   ", dtype=np.uint8)
    raws = [alphabet[rng.randint(len(alphabet), size=2000)].tobytes()
            for _ in range(2000)]
    cfg = MatchConfig(algorithm="smithWaterman", min_score=0.1)
    q = prepare_query("spark shufle", cfg)
    cands = BatchCandidates(raws)
    cands.sw_bonus_matrix(cfg.smith_waterman)
    tracemalloc.start()
    try:
        scores, _ = batch_score_pairs(cands, q)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 << 20, peak
    assert (~np.isnan(scores)).sum() > 1000


def test_batch_sw_dtype_guard():
    """The sweep picks the narrowest integer lane its value bound admits,
    and a config whose scores overflow int32 still equals the scalar DP."""
    from fuzzymatch_spark.config import SmithWatermanConfig
    from fuzzymatch_spark.kernels.batch_scoring import _sw_dtype

    sw = SmithWatermanConfig()
    assert _sw_dtype(sw, 12, 600) == np.int16
    assert _sw_dtype(sw, 12, 20_000) == np.int32
    huge = SmithWatermanConfig(score_match=1 << 29)
    assert _sw_dtype(huge, 12, 600) == np.int64

    cfg = MatchConfig(algorithm="smithWaterman", min_score=0.1,
                      smith_waterman=huge)
    raws = _sw_corpus(np.random.RandomState(4), 40, 8)
    cands = BatchCandidates(raws)
    for qt in ["spark", "hash key", "goldman"]:
        q = prepare_query(qt, cfg)
        assert q.max_sw_score > 1 << 31
        scores, kinds = batch_score_pairs(cands, q)
        for k, raw in enumerate(raws):
            got = None if np.isnan(scores[k]) else (float(scores[k]), kinds[k])
            assert got == score_pair(raw, q), (qt, raw)


def test_batch_sw_rejects_negative_gap_extend():
    """The gap sweep's prefix-max form needs a non-negative extension
    penalty; any other config fails loudly rather than scoring wrong."""
    from fuzzymatch_spark.config import SmithWatermanConfig

    cfg = MatchConfig(algorithm="smithWaterman",
                      smith_waterman=SmithWatermanConfig(penalty_gap_extend=-1))
    with pytest.raises(ValueError, match="penalty_gap_extend"):
        batch_score_pairs(BatchCandidates([b"spark shuffle"]),
                          prepare_query("spark", cfg))
