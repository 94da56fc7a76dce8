"""Batch-vectorized Damerau-Levenshtein phase pipeline.

The scalar ``score_pair`` (kernels/scoring.py) reproduces the reference's
``scoreImpl`` cascade (`Sources/FuzzyMatch/FuzzyMatcher.swift:350-501`) one
candidate at a time; at ~1-20k candidates/s/core that is the engine's
throughput ceiling.  This module runs the SAME cascade across a whole Arrow
batch at once:

* length + char-bitmask prefilters      — one table lookup + reduceat fold
  over the concatenated batch (`Prefilters.swift:394-422` batch-wide)
* normalization                         — C-level translate per row (ASCII)
* trigram occurrence filter             — one padded-matrix shingle pack +
  ``np.isin`` against the query set (`Trigrams.swift:113-177`)
* exact match                           — one padded-matrix compare
* prefix + substring banded DL          — ONE DP sweep advancing all
  candidates simultaneously (the same prefix-min resolution of the deletion
  chain as kernels/editdist.py, with the query shared across rows)
* subsequence existence                 — O(qlen) vectorized greedy scan
* Smith-Waterman                        — one sweep along the query's bytes,
  vectorized over (rows, candidate positions)

The SW sweep runs along the query because a query atom has a handful of
bytes and a caption hundreds: the old sweep along candidate positions made
~25 numpy calls per candidate byte, so a batch cost what its longest row
cost.  Along the query, the match state reads the previous column one
position back, and the gap state's in-column recurrence
``G[i] = max(0, M[i-1] - gs, G[i-1] - ge)`` unrolls (for ``ge >= 0``) to
``max(0, max_{k<i}(M[k] + ge*k) - gs - ge*(i-1))``: one
``np.maximum.accumulate`` per column, the prefix trick the DL sweep uses for
its deletion chain.  Rows run in length-sorted chunks of at most
``_SW_CHUNK_CELLS`` rows x length cells, in the narrowest integer lane the
scores provably fit (``_sw_dtype``).  Driver-local ``score_many`` over the
600 perfbench captions went from 390-500 to ~60 us per candidate, and the
traced perfbench ``kernels.score_sw_us`` from 675-705 to 87 (4 vCPUs).

Only rows that survive a DP or the subsequence check reach the per-row
arithmetic finish — and that finish is ``scoring.run_phases`` itself with
the batch-computed distances injected, so scalar and batch scoring share
one code path and cannot diverge (property-tested batch == scalar).

Non-ASCII rows (rare for web corpora) are routed to the exact scalar path
unchanged.
"""

from __future__ import annotations

import numpy as np

from fuzzymatch_spark.kernels.normalize import _BITMASK_LOOKUP, normalize_bytes
from fuzzymatch_spark.kernels.scoring import (
    _UNSET,
    PreparedQuery,
    run_phases,
    score_pair,
)

_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)

# like the reference's charBitmaskLookup (`Prefilters.swift:380-388`) plus a
# bit-63 non-ASCII sentinel so multi-byte rows are detected batch-wide and
# routed to the exact per-row path
_SENTINEL_LOOKUP = _BITMASK_LOOKUP.copy()
_SENTINEL_LOOKUP[0x80:] = np.uint64(1) << np.uint64(63)


def batch_prefilter(raws: list[bytes], query: PreparedQuery) -> np.ndarray:
    """Vectorized length + char-bitmask prefilters over a whole Arrow batch.

    One lookup over the concatenated bytes, one ``bitwise_or.reduceat``
    per-row fold, one table-based popcount.  Non-ASCII rows are kept (the
    sentinel bit voids the mask test) and fall to the per-row path.
    Returns a bool keep-mask; rejected rows are provably non-matches.
    """
    n = len(raws)
    lens = np.fromiter((len(r) for r in raws), dtype=np.int64, count=n)
    keep = lens >= query.min_candidate_length
    if query.lowered == b"":
        return np.ones(n, dtype=bool)
    blob = b"".join(raws)
    arr = np.frombuffer(blob, dtype=np.uint8)
    if arr.size == 0:
        return keep
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    contrib = _SENTINEL_LOOKUP[arr]
    nonempty = lens > 0
    if nonempty.any():
        red_off = offsets[nonempty]
        masks = np.zeros(n, dtype=np.uint64)
        masks[nonempty] = np.bitwise_or.reduceat(contrib, red_off)
        ascii_rows = (masks >> np.uint64(63)) == 0  # sentinel bit clear
        qmask = np.uint64(query.bitmask)
        missing = qmask & ~masks
        pc = _POP8[missing.view(np.uint8).reshape(n, 8)].sum(axis=1)
        reject = ascii_rows & nonempty & (pc > query.bitmask_tolerance)
        keep &= ~reject
    return keep


class BatchCandidates:
    """Query-independent per-batch state, built once and reused across a
    whole query workload (the reference amortizes ``prepare()`` per corpus;
    we amortize the padded matrices per Arrow batch the same way).

    ``C`` is the padded normalized-byte matrix (int16, -1 padding); the
    trigram code matrix is derived lazily and cached.
    """

    __slots__ = (
        "raws", "n", "is_ascii", "norms", "lens", "maxlen", "C",
        "_tri_codes", "_tri_valid", "_R", "_sw_bonus",
    )

    def __init__(self, raws: list[bytes]):
        self.raws = raws
        n = len(raws)
        self.n = n
        self.is_ascii = np.fromiter(
            (r.isascii() for r in raws), dtype=bool, count=n
        )
        self.norms: list[bytes] = [normalize_bytes(r) for r in raws]
        self.lens = np.fromiter(
            (len(nm) for nm in self.norms), dtype=np.int64, count=n
        )
        self.maxlen = int(self.lens.max()) if n else 0
        C = np.full((n, max(self.maxlen, 1)), -1, dtype=np.int16)
        for k, nm in enumerate(self.norms):
            if nm:
                C[k, : len(nm)] = np.frombuffer(nm, dtype=np.uint8)
        self.C = C
        self._tri_codes = None
        self._tri_valid = None
        self._R = None
        self._sw_bonus = None

    def raw_matrix(self) -> np.ndarray:
        """Padded ORIGINAL-byte matrix (case preserved — camelCase visible).
        Only meaningful for ASCII rows, where raw and norm positions are 1:1."""
        if self._R is None:
            R = np.zeros((self.n, max(self.maxlen, 1)), dtype=np.uint8)
            for k, r in enumerate(self.raws):
                if r and self.is_ascii[k]:
                    R[k, : len(r)] = np.frombuffer(r, dtype=np.uint8)
            self._R = R
        return self._R

    def sw_bonus_matrix(self, sw) -> np.ndarray:
        """Per-position SW bonus tiers for all ASCII rows at once — the 2D
        form of ``sw.sw_bonus_array``'s ASCII path
        (`FuzzyMatcher+SmithWaterman.swift:68-127`: whitespace 10 /
        delimiter 9 / boundary 8 / camelCase & digit 5)."""
        key = (sw.bonus_boundary, sw.bonus_boundary_whitespace,
               sw.bonus_boundary_delimiter, sw.bonus_camel_case)
        if self._sw_bonus is not None and self._sw_bonus[0] == key:
            return self._sw_bonus[1]
        from fuzzymatch_spark.kernels.sw import _DELIMS

        bb, bw, bd, bc = (sw.bonus_boundary, sw.bonus_boundary_whitespace,
                          sw.bonus_boundary_delimiter, sw.bonus_camel_case)
        R = self.raw_matrix()
        is_upper = (R >= 0x41) & (R <= 0x5A)
        is_lower = (R >= 0x61) & (R <= 0x7A)
        is_digit = (R >= 0x30) & (R <= 0x39)
        is_ws = (R == 0x20) | (R == 0x09)
        is_word = is_upper | is_lower | is_digit
        prev = np.zeros_like(R)
        prev[:, 1:] = R[:, :-1]
        p_upper = (prev >= 0x41) & (prev <= 0x5A)
        p_lower = (prev >= 0x61) & (prev <= 0x7A)
        p_digit = (prev >= 0x30) & (prev <= 0x39)
        p_ws = (prev == 0x20) | (prev == 0x09)
        p_delim = np.isin(prev, np.array(_DELIMS, dtype=np.uint8))
        p_alnum = p_upper | p_lower | p_digit
        bonus = np.select(
            [is_ws, ~is_word, p_ws, p_delim, p_lower & is_upper,
             (~p_digit) & is_digit, (~p_alnum) & (~p_ws)],
            [bw, bb, bw, bd, bc, bc, bb],
            default=0,
        ).astype(np.int64)
        bonus[:, 0] = bw
        self._sw_bonus = (key, bonus)
        return bonus

    def trigram_codes(self) -> tuple[np.ndarray, np.ndarray]:
        """(codes, valid): packed ``a | b<<8 | c<<16`` trigram codes at every
        candidate position (same packing as `Trigrams.swift:52-54`), with
        space-containing trigrams masked out (`Trigrams.swift:81-86`)."""
        if self._tri_codes is None:
            C32 = self.C.astype(np.int32)
            if C32.shape[1] < 3:
                self._tri_codes = np.empty((self.n, 0), dtype=np.int32)
                self._tri_valid = np.empty((self.n, 0), dtype=bool)
            else:
                a, b, c = C32[:, :-2], C32[:, 1:-1], C32[:, 2:]
                self._tri_codes = a | (b << 8) | (c << 16)
                self._tri_valid = (
                    (c >= 0) & (a != 0x20) & (b != 0x20) & (c != 0x20)
                )
        return self._tri_codes, self._tri_valid


def _batch_dl_same_query(
    C: np.ndarray,
    lens: np.ndarray,
    qv: np.ndarray,
    max_ed: int,
    free_start: bool,
) -> np.ndarray:
    """Banded (prefix) or free-start (substring) DL of ONE query against N
    candidates in one DP sweep; entries > max_ed come back as max_ed + 1.

    Same recurrence as ``editdist._dl_distance`` with the in-row deletion
    chain resolved via the prefix-min identity; rows whose candidate has
    ended are frozen (their best is already captured).
    """
    m = C.shape[0]
    q = len(qv)
    out = np.full(m, max_ed + 1, dtype=np.int64)
    if m == 0 or q == 0:
        return out
    big = np.int64(1 << 30)
    maxc = int(lens.max()) if m else 0
    limit = maxc if free_start else min(maxc, q + max_ed)
    idx = np.arange(q + 1, dtype=np.int64)
    prev_prev = np.broadcast_to(idx, (m, q + 1)).copy()
    prev = prev_prev.copy()
    row = prev_prev.copy()
    # not free_start: the empty candidate prefix is a complete match at
    # distance q (mirrors `_dl_distance` best=q initialization)
    best = np.full(m, big if free_start else q, dtype=np.int64)
    Q = qv.astype(np.int16)[None, :]  # (1, q)

    for i in range(limit):
        active = i < lens
        if not active.any():
            break
        prev_prev, prev, row = prev, row, prev_prev
        cand = C[:, i : i + 1]  # (m, 1)
        sub_cost = (Q != cand).astype(np.int64)
        tmp = np.minimum(prev[:, 1:] + 1, prev[:, :-1] + sub_cost)
        if i > 0:
            pc = C[:, i - 1 : i]
            trans_ok = (Q == pc) & np.concatenate(
                [np.zeros((m, 1), dtype=bool), Q[:, :-1] == cand], axis=1
            )
            trans_cost = prev_prev[:, :-2] + 1
            t2 = tmp[:, 1:]
            np.copyto(t2, np.minimum(t2, trans_cost), where=trans_ok[:, 1:])
        full = np.empty((m, q + 1), dtype=np.int64)
        full[:, 0] = 0 if free_start else i + 1
        full[:, 1:] = tmp
        acc = full - idx[None, :]
        np.minimum.accumulate(acc, axis=1, out=acc)
        new_row = acc + idx[None, :]
        np.copyto(row, new_row, where=active[:, None])
        np.copyto(row, prev, where=~active[:, None])

        end = row[:, q]
        upd = active & (end < best)
        best = np.where(upd, end, best)
        if (best == 0).all():
            break

    np.minimum(best, max_ed + 1, out=out)
    return out


def _batch_is_subsequence(
    C: np.ndarray, lens: np.ndarray, qv: np.ndarray
) -> np.ndarray:
    """Greedy subsequence existence of the query in each candidate —
    vectorized form of the quick check in ``scoring._score_subsequence``."""
    m, L = C.shape
    if m == 0:
        return np.zeros(0, dtype=bool)
    cols = np.arange(L, dtype=np.int64)[None, :]
    cur = np.zeros((m, 1), dtype=np.int64)
    ok = lens >= len(qv)
    for ch in qv:
        match = (C == ch) & (cols >= cur) & (cols < lens[:, None])
        has = match.any(axis=1)
        ok &= has
        if not ok.any():
            return ok
        cur = np.where(has, match.argmax(axis=1) + 1, cur[:, 0])[:, None]
    return ok


# Rows x padded-length cells per chunk of the SW column sweep.  The sweep
# holds about fifteen (rows, length) arrays at once; at 2^15 cells they
# stay in L2 and the chunk loop's per-call overhead stays small.  On the
# 600 workload captions (4 vCPUs, int16) 2^14 / 2^15 / 2^16 / 2^18 cells
# took 31 / 26 / 29 / 39 ms per atom.  A 2,000 x 2,000-byte batch scored
# at a 35 MB tracemalloc peak chunked and 153 MB as one block.
_SW_CHUNK_CELLS = 1 << 15


def _sw_dtype(sw, qlen: int, width: int):
    """The narrowest of int16 / int32 / int64 that every value of the
    column sweep provably fits.

    A match state grows by at most ``score_match + max bonus x first-char
    multiplier`` per query byte, and the gap prefix adds ``gap_extend`` per
    candidate position (``_sw_column_sweep``), so the bound is linear in
    both lengths.  Narrow lanes cut the sweep's memory traffic: on the
    workload captions int16 / int32 / int64 took 26 / 35 / 57 ms."""
    bmax = max(abs(sw.bonus_boundary), abs(sw.bonus_boundary_whitespace),
               abs(sw.bonus_boundary_delimiter), abs(sw.bonus_camel_case),
               abs(sw.bonus_consecutive))
    step = abs(sw.score_match) + bmax * max(abs(sw.bonus_first_char_multiplier), 1)
    bound = (qlen * step + 2 * width * abs(sw.penalty_gap_extend)
             + abs(sw.penalty_gap_start))
    for dt in (np.int16, np.int32):
        if bound <= np.iinfo(dt).max:
            return dt
    return np.int64


def _sw_column_sweep(
    C: np.ndarray, bonus: np.ndarray, valid: np.ndarray, qv: np.ndarray, sw
) -> np.ndarray:
    """Raw SW score of ONE atom against every row of a (rows, L) chunk,
    sweeping the atom's bytes: the 2D form of ``sw.smith_waterman_score``
    (`Sources/FuzzyMatch/SmithWaterman.swift:49-177`) with the loop axes
    swapped.  ``bonus`` has the sweep's dtype; ``valid`` masks padding.

    Column j's match and carried-bonus states read column j-1 one position
    back (the diagonal); the padded ``(rows, L + 1)`` state arrays make that
    shift a view.  The gap state runs along the candidate axis,
    ``G[i] = max(0, M[i-1] - gs, G[i-1] - ge)``, and with ``ge >= 0`` it
    unrolls to ``G[i] = max(0, max_{k<i}(M[k] + ge*k) - gs - ge*(i-1))``:
    one prefix max per column.  Returns int64 best scores (0 = no valid
    alignment)."""
    m, L = C.shape
    dt = bonus.dtype
    sm, gs, ge = sw.score_match, sw.penalty_gap_start, sw.penalty_gap_extend
    # position-only terms: the carried bonus floor (consecutive bonus,
    # raised to the position's own bonus at boundaries), the effective
    # bonus floor, the gap-path gain and the first-byte score
    carry_floor = np.where(bonus >= sw.bonus_boundary,
                           np.maximum(bonus, sw.bonus_consecutive),
                           np.asarray(sw.bonus_consecutive, dtype=dt))
    eff_floor = np.maximum(carry_floor, bonus)
    gap_gain = bonus + sm
    first = bonus * sw.bonus_first_char_multiplier + sm
    ramp = np.arange(L, dtype=dt) * ge
    gap_off = ramp[:-1] + gs
    zero = dt.type(0)

    Mp = np.zeros((m, L + 1), dtype=dt)
    Gp = np.zeros((m, L + 1), dtype=dt)
    Bp = np.zeros((m, L + 1), dtype=dt)
    M, B = Mp[:, 1:], Bp[:, 1:]
    for j, ch in enumerate(qv):
        eq = C == ch
        if j == 0:
            np.multiply(first, eq, out=M)
            np.multiply(bonus, eq, out=B)
        else:
            dM, dG, dB = Mp[:, :-1], Gp[:, :-1], Bp[:, :-1]
            carried = np.maximum(dB, carry_floor)
            cons = np.maximum(dB, eff_floor)  # consecutive-path score
            cons += dM
            cons += sm
            cons *= dM > 0
            gap = dG + gap_gain  # gap-path score
            gap *= dG > 0
            carried *= cons > 0
            np.maximum(cons, zero, out=cons)
            np.copyto(carried, bonus, where=gap > cons)  # ties keep the consecutive path
            np.maximum(cons, gap, out=cons)
            # dM / dB read one position behind M / B: write after the reads
            np.multiply(cons, eq, out=M)
            np.multiply(carried, eq, out=B)
        if L > 1:
            acc = np.maximum.accumulate(M + ramp, axis=1)[:, :-1]
            acc -= gap_off
            np.maximum(acc, zero, out=Gp[:, 2:])
    last = np.maximum(M, Gp[:, 1:])
    last *= valid
    return last.max(axis=1).astype(np.int64)


def _batch_sw_scores(
    C: np.ndarray,
    lens: np.ndarray,
    bonus: np.ndarray,
    rows: np.ndarray,
    atoms: list[np.ndarray],
    sw,
) -> np.ndarray:
    """Raw SW scores, shape ``(len(atoms), rows.size)``, of each atom
    against the non-empty candidate rows ``rows`` of the padded batch
    matrices.

    Rows run in length-sorted chunks of at most ``_SW_CHUNK_CELLS`` rows x
    padded-length cells, so a long caption pads only its own chunk and the
    sweep's memory stays flat in the batch size; scores come back in
    ``rows`` order."""
    out = np.zeros((len(atoms), rows.size), dtype=np.int64)
    if rows.size == 0:
        return out
    if sw.penalty_gap_extend < 0:
        raise ValueError("the SW gap sweep needs penalty_gap_extend >= 0")
    qmax = max(len(a) for a in atoms)
    order = np.argsort(lens[rows], kind="stable")
    slens = lens[rows][order]
    n = rows.size
    a = 0
    while a < n:
        b = min(n, a + max(1, _SW_CHUNK_CELLS // int(slens[a])))
        if (b - a) * int(slens[b - 1]) > _SW_CHUNK_CELLS:
            b = a + max(1, _SW_CHUNK_CELLS // int(slens[b - 1]))
        width = int(slens[b - 1])
        pos = order[a:b]
        sel = rows[pos]
        Cc = C[sel, :width]
        bc = bonus[sel, :width].astype(_sw_dtype(sw, qmax, width))
        valid = np.arange(width) < lens[sel][:, None]
        for t, av in enumerate(atoms):
            out[t, pos] = _sw_column_sweep(Cc, bc, valid, av, sw)
        a = b
    return out


def _batch_score_sw(
    cands: BatchCandidates,
    query: PreparedQuery,
    keep: np.ndarray,
    scores: np.ndarray,
    kinds: list,
) -> None:
    """Vectorized ``score_smith_waterman`` orchestration
    (`FuzzyMatcher+SmithWaterman.swift:29-383`): exact early exit, multi-atom
    AND semantics, raw/maxScore normalization, per-row acronym fallback only
    where the query is a subsequence of the candidate."""
    from fuzzymatch_spark.kernels.boundary import boundary_array
    from fuzzymatch_spark.kernels.scoring import _score_acronym, _State

    sw = query.config.smith_waterman
    min_score = query.config.min_score
    qbytes = query.lowered
    qlen = len(qbytes)

    def _scalar(indices) -> None:
        for k in indices:
            r = score_pair(cands.raws[k], query)
            if r is not None:
                scores[k] = r[0]
                kinds[k] = r[1]

    # multi-byte rows: exact per-row path (fused multibyte bonus tiers)
    _scalar(np.nonzero(keep & ~cands.is_ascii)[0])

    alive = keep & cands.is_ascii & (cands.lens > 0)
    n = cands.n
    if not alive.any():
        return

    qv = np.frombuffer(qbytes, dtype=np.uint8).astype(np.int16)
    C, lens = cands.C, cands.lens

    # exact early exit (norm == query)
    if qlen <= C.shape[1]:
        ex = alive & (lens == qlen) & (C[:, :qlen] == qv[None, :]).all(axis=1)
    else:
        ex = np.zeros(n, dtype=bool)
    for k in np.nonzero(ex)[0]:
        scores[k] = 1.0
        kinds[k] = "exact"
    alive &= ~ex

    idx = np.nonzero(alive)[0]
    if idx.size == 0:
        return
    bonus = cands.sw_bonus_matrix(sw)

    if len(query.atoms) > 1:
        if query.max_sw_score <= 0:
            return
        atoms = [np.frombuffer(a, dtype=np.uint8).astype(np.int16)
                 for a in query.atoms]
        raw = _batch_sw_scores(C, lens, bonus, idx, atoms, sw)
        ok = (raw > 0).all(axis=0)
        ns = np.clip(raw.sum(axis=0) / query.max_sw_score, 0.0, 1.0)
        for j in np.nonzero(ok & (ns >= min_score))[0]:
            scores[idx[j]] = float(ns[j])
            kinds[idx[j]] = "alignment"
        return

    raw_score = _batch_sw_scores(C, lens, bonus, idx, [qv], sw)[0]
    base = np.full(idx.size, -1.0)
    if query.max_sw_score > 0:
        ns = np.clip(raw_score / query.max_sw_score, 0.0, 1.0)
        hit = (raw_score > 0) & (ns >= min_score)
        base = np.where(hit, ns, -1.0)

    # acronym fallback: only possible where the query is a subsequence of
    # the candidate (initials are a subsequence of norm) — vectorized gate,
    # per-row arithmetic on the small survivor set
    acr_candidates = np.zeros(idx.size, dtype=bool)
    if 2 <= qlen <= 8:
        acr_candidates = _batch_is_subsequence(C[idx], lens[idx], qv)
    for j in range(idx.size):
        k = idx[j]
        best_score = base[j]
        best_kind = "alignment"
        if acr_candidates[j]:
            state = _State()
            state.boundary = boundary_array(cands.raws[k], cands.norms[k])
            state.best_score = best_score
            state.best_kind = best_kind
            _score_acronym(qbytes, cands.norms[k], query, 1.0, state)
            if state.best_score > best_score:
                best_score = state.best_score
                best_kind = state.best_kind
        if best_score >= min_score:
            scores[k] = best_score
            kinds[k] = best_kind


def batch_score_pairs(
    cands: BatchCandidates, query: PreparedQuery
) -> tuple[np.ndarray, list]:
    """Score every candidate in the batch against one prepared query.

    Returns (scores, kinds): score NaN / kind None where the candidate is
    filtered out or below minScore — bit-identical to per-row
    ``score_pair`` (property-tested).
    """
    n = cands.n
    scores = np.full(n, np.nan)
    kinds: list = [None] * n

    def _scalar(indices) -> None:
        for k in indices:
            r = score_pair(cands.raws[k], query)
            if r is not None:
                scores[k] = r[0]
                kinds[k] = r[1]

    keep = batch_prefilter(cands.raws, query)
    qbytes = query.lowered
    qlen = len(qbytes)
    if qlen == 0:
        # empty query matches everything exactly (reference semantics)
        scores[:] = 1.0
        for k in range(n):
            kinds[k] = "exact"
        return scores, kinds
    if query.config.algorithm != "editDistance":
        _batch_score_sw(cands, query, keep, scores, kinds)
        return scores, kinds
    if qlen == 1:
        # the reference's qLen==1 fast path is already O(clen) per row
        _scalar(np.nonzero(keep)[0])
        return scores, kinds

    # non-ASCII rows: exact per-row path (multi-byte folds, boundary map)
    _scalar(np.nonzero(keep & ~cands.is_ascii)[0])

    alive = keep & cands.is_ascii
    if not alive.any():
        return scores, kinds

    qv = np.frombuffer(qbytes, dtype=np.uint8).astype(np.int16)
    C, lens = cands.C, cands.lens

    # Phase 2: exact (one matrix compare)
    if qlen <= C.shape[1]:
        ex = alive & (lens == qlen) & (C[:, :qlen] == qv[None, :]).all(axis=1)
    else:
        ex = np.zeros(n, dtype=bool)
    for k in np.nonzero(ex)[0]:
        scores[k] = 1.0
        kinds[k] = "exact"
    alive &= ~ex

    # Prefilter 3: trigram occurrence count (same gate as the scalar path)
    emed = query.effective_max_ed
    if qlen >= 4 and query.trigrams.size > 3 * emed:
        codes, valid = cands.trigram_codes()
        if codes.shape[1]:
            hit = np.isin(codes, query.trigrams.astype(np.int32)) & valid
            shared = hit.sum(axis=1)
        else:
            shared = np.zeros(n, dtype=np.int64)
        alive &= shared >= query.trigrams.size - 3 * emed

    idx = np.nonzero(alive)[0]
    if idx.size == 0:
        return scores, kinds
    Csub = C[idx]
    lsub = lens[idx]

    # Phases 3-4: both DL DPs, whole subset at once
    pdist = _batch_dl_same_query(Csub, lsub, qv, emed, free_start=False)
    need_sub = pdist != 0  # substring phase is gated off when prefix d==0
    sdist = np.full(idx.size, emed + 1, dtype=np.int64)
    if need_sub.any():
        sdist[need_sub] = _batch_dl_same_query(
            Csub[need_sub], lsub[need_sub], qv, emed, free_start=True
        )

    # Phase 5 reachability: rows with no DP hit can still score via
    # subsequence/acronym — but only if the query IS a subsequence
    # (acronym initials are a subsequence of norm, so this covers phase 6)
    no_dp = (pdist > emed) & (sdist > emed)
    is_sub = np.zeros(idx.size, dtype=bool)
    if no_dp.any():
        is_sub[no_dp] = _batch_is_subsequence(Csub[no_dp], lsub[no_dp], qv)

    finish = (~no_dp) | is_sub
    for j in np.nonzero(finish)[0]:
        k = idx[j]
        pd = int(pdist[j]) if pdist[j] <= emed else None
        sd = (
            (int(sdist[j]) if sdist[j] <= emed else None)
            if need_sub[j]
            else _UNSET
        )
        r = run_phases(
            cands.raws[k], cands.norms[k], query,
            prefix_distance=pd, substring_distance=sd,
        )
        if r is not None:
            scores[k] = r[0]
            kinds[k] = r[1]
    return scores, kinds
