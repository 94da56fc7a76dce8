"""Engine-owned column-expression Bloom filter (Spark exposes
``bloom_filter_agg`` only on the JVM side, not as a SQL routine, so the
build and probe are written as plain Catalyst expressions that stay in
whole-stage codegen).

One definition shared by every Bloom consumer (the n-gram
decontamination tier in ``operators/corpus.py`` and the survivor
payload filter in ``operators/multimodal.py``) so the probe-position
scheme can never drift between a filter built by one operator and
probed by another.

Scheme: k probe positions per key via Kirsch-Mitzenmacher double
hashing — ``h1 + i*h2`` over two ``xxhash64`` seeds — with each hash
reduced mod ``n_bits`` BEFORE combining (``i*h2`` on raw 64-bit hashes
overflows under ANSI mode; the double-hash scheme is equivalent taken
mod n_bits throughout).  The filter travels as ONE packed ``binary``
plan literal (bit ``p`` lives at byte ``p//8``, bit ``p%8``):

* **build** — every probe position becomes a ``(word, single-bit
  mask)`` row, ``bit_or``-folded per 64-bit word, one O(n_bits/64)
  driver collect, packed little-endian into ``bytes``.  The exchange
  carries at most ``n_bits/64`` rows no matter how many keys fold in.
* **probe** — ``forall`` over the k positions, each a one-byte
  ``substr`` + bit test against the binary literal.  JVM-only, no
  Python stage.

The binary representation is a measured fix, not a style choice: an
``array<long>`` literal goes through classic PySpark as ``CreateArray``
of one child literal PER ELEMENT — for a 5M-bit filter (78k words) that
is ~78k py4j round-trips (~30 s driver-serial) plus analyzer/optimizer
walks over a 78k-node expression tree on EVERY action (~4 s each),
which made the first ``survivor_payload_filter`` shape 20x slower than
the payload anti-join it replaces and flat from 8 to 32 cores
(driver-bound).  A ``bytes`` literal is a single plan node:
construction 0.04 s, action overhead unmeasurable
(BENCH.md, survivor-payload emit A/B).

Negative A/B, recorded so it isn't retried: rebuilding the word array
probe-side as ``from_json`` of one json string literal DOES
constant-fold into a ``Literal(ArrayData)`` (and a bare 20M-row
``element_at`` microbench runs ~180M fetches/s), but in the real probe
it measured EQUAL-OR-SLOWER than the byte extraction (0.87 s vs 0.70 s
warm probe-scan at 78k words; 15.2 s vs 13.0 s for 20M probes at 781k
words, where the 6 MB array blows the L2 and every fetch is a boxed
DRAM miss).  Position hashing (2x ``xxhash64`` + k ``pmod``) dominates
either way; the byte form keeps the smaller plan literal and no
dependence on ``from_json`` foldability semantics.

Scale shape: broadcast O(n_bits/8) bytes; ~``0.6185**bits_per_key``
false-positive rate at the matched ``k = 0.7*bits_per_key``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# shiftleft takes only a literal shift amount, so single-bit masks come
# from a 64-long literal lookup instead (index = pos % 64); 1<<63 is
# written in its signed-long form
_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
# byte-level masks for the probe side (bit p%8 of byte p//8)
_BYTE_MASKS = [1 << i for i in range(8)]


def bloom_positions(key: Column, n_bits: int, k: int) -> list[Column]:
    """The k probe positions (long Columns in [0, n_bits)) for ``key``.
    ``key`` may be any Catalyst expression; hashing is ``xxhash64``."""
    h1 = F.pmod(F.xxhash64(key), F.lit(n_bits))
    h2 = F.pmod(F.xxhash64(key, F.lit(41)), F.lit(n_bits))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)).cast("long")
        for i in range(k)
    ]


def _bit_mask(pos: Column) -> Column:
    return F.element_at(F.lit(_MASKS), (pos % 64).cast("int") + 1)


def bloom_build(keys: DataFrame, key: Column, n_bits: int, k: int) -> bytes:
    """Fold every row of ``keys`` (under expression ``key``) into a
    packed Bloom byte string.  Distributed ``bit_or`` build; the one
    driver fetch is O(n_bits/64) rows regardless of key count, pulled
    through Arrow and packed with one vectorized scatter (a ``collect``
    into Row objects was ~2 s of the build wall at 78k words).

    Little-endian word packing puts global bit ``p`` at byte ``p//8``,
    bit ``p%8`` — the addressing ``bloom_might_contain`` relies on."""
    import numpy as np

    n_words = (n_bits + 63) // 64
    sparse = (
        keys.select(F.explode(F.array(*bloom_positions(key, n_bits, k))).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("word"),
            _bit_mask(F.col("pos")).alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
        .toPandas()
    )
    words = np.zeros(n_words, dtype=np.int64)
    words[sparse["word"].to_numpy(dtype=np.int64)] = sparse["bits"].to_numpy(
        dtype=np.int64
    )
    return words.astype("<i8").tobytes()


def bloom_might_contain(
    filter_bytes: bytes, key: Column, n_bits: int, k: int
) -> Column:
    """Boolean probe Column: False is definite (key never folded in),
    True means "folded in, or a false positive" (~0.6185**bits_per_key
    of the non-member stream at the matched k)."""
    bf = F.lit(filter_bytes)  # single binary literal, ships with the plan
    masks = F.lit(_BYTE_MASKS)  # 8-element array, constant-folded

    def _test(pos: Column) -> Column:
        # substr is 1-based; decode(ISO-8859-1) maps byte b to codepoint
        # b, ascii returns the codepoint — a branch-free byte extractor
        # that stays inside whole-stage codegen.
        byte = F.ascii(
            F.decode(bf.substr((pos / 8).cast("int") + 1, F.lit(1)), "ISO-8859-1")
        )
        return byte.bitwiseAND(F.element_at(masks, (pos % 8).cast("int") + 1)) != 0

    return F.forall(F.array(*bloom_positions(key, n_bits, k)), _test)


def bloom_params(expected_keys: int, bits_per_key: int) -> tuple[int, int]:
    """(n_bits, k) sized for ``expected_keys`` at ``bits_per_key`` —
    k = 0.7*bits_per_key is the fp-minimizing probe count."""
    n_bits = max(64, int(expected_keys) * int(bits_per_key))
    k = max(1, int(round(0.7 * bits_per_key)))
    return n_bits, k
