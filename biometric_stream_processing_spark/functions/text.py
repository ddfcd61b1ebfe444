"""Text-analysis column functions for large-scale training-data
pipelines (beyond-reference surface, BASELINE.json north star):
tokenization, token counts, shingling, simhash fingerprints.
Everything is built-in Catalyst array/string expressions — no Python
on the hot path, so these run inside whole-stage codegen
and scale linearly with input splits.

Engine-parity notes (for the DuckDB oracles): hashing is md5 (same hex
output everywhere); hex digits are decoded with the
``strpos('0123456789abcdef', c) - 1`` trick, which avoids
engine-specific hex-parse functions; integer arithmetic only inside
aggregations (order-independent).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list (public-domain common words).
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def words(col: Column) -> Column:
    """Whitespace tokenization with empties dropped — parity form:
    ``list_filter(string_split(text,' '), w -> w <> '')``."""
    return F.filter(F.split(col, " "), lambda w: w != "")


def word_count(col: Column) -> Column:
    return F.size(words(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Regex token count: alpha runs, digit runs, and single
    non-alphanumerics — a BPE-pretokenizer approximation using only
    character classes (identical across regex engines)."""
    return F.size(
        F.regexp_extract_all(col, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))
    )


def shingles(ws: Column, n: int = 2) -> Column:
    """Word n-gram shingles from a words array. Built as a transform
    over ``arrays_zip`` of ``n`` SLICES (each shifted by one) rather
    than lambda-indexed ``element_at`` — identical output, measured
    ~6× faster at sf0.1 (n=2: 3.6→0.6 s, n=3: 5.2→0.9 s for the
    corpus gram aggregation): per-element indexed array access inside
    a higher-order lambda is the interpreted-expression class of the
    winnowing ~300× dead end, while slice+zip is n vectorized copies
    and the remaining lambda only concatenates adjacent struct
    fields. Documents with fewer than ``n`` words yield an empty
    array (the slice lengths would go non-positive without the
    guard)."""
    m = F.size(ws)
    z = F.arrays_zip(
        *[F.slice(ws, k + 1, m - (n - 1)).alias(f"w{k}") for k in range(n)]
    )
    grams = F.transform(
        z, lambda s: F.concat_ws(" ", *[s[f"w{k}"] for k in range(n)])
    )
    return F.when(m >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def simhash16(ws: Column) -> Column:
    """16-bit SimHash over a words array: for each bit position, sum
    +1/-1 over every token whose md5 has that bit set/unset; the sign
    vector packs into a BIGINT. Pure array folds — no explosion, no
    shuffle, order-independent integer sums.

    Formulation (round-4 rewrite, measured ~3x on sf0.1): md5 runs
    ONCE per word — the first 4 hex chars convert to a single 16-bit
    int per word — and ONE ``aggregate`` pass folds all 16 signed bit
    sums into an array accumulator via ``zip_with``. The round-3 form
    evaluated ``md5(w)`` + an ``instr`` digit decode inside 16
    separate per-bit fold passes (interpreted higher-order lambdas
    do no common-subexpression elimination, so that was 16 full md5
    sweeps per document). Bit i of the old definition is hex digit
    ``i // 4``, bit ``i % 4`` — which in the packed int (digit 0 is
    the high nibble) sits at position ``4 * (3 - i // 4) + i % 4``;
    the value is bit-identical to the round-3 / DuckDB-oracle
    definition.
    """
    # per-word 16-bit hash int, md5 evaluated exactly once per word
    hv = F.transform(
        ws,
        lambda w: F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("long"),
    )
    shifts = [4 * (3 - (i // 4)) + (i % 4) for i in range(16)]
    signed_bits = lambda v: F.array(*[  # noqa: E731
        (
            F.shiftright(v, s).bitwiseAND(F.lit(1)) * 2 - 1
        ).cast("long")
        for s in shifts
    ])
    sums = F.aggregate(
        hv,
        F.array(*[F.lit(0).cast("long") for _ in range(16)]),
        lambda acc, v: F.zip_with(acc, signed_bits(v), lambda a, b: a + b),
    )
    # sums referenced exactly once: fold (bit-sum, 2^i) pairs into the
    # packed fingerprint so the 16-sum pass is never duplicated.
    powers = F.array(*[F.lit(2 ** i).cast("long") for i in range(16)])
    return F.aggregate(
        F.zip_with(
            sums, powers,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
