"""Shared text primitives for the data-pipeline operators.

Design rule: every derived value must be reproducible by the ANSI-SQL
oracle (DuckDB) — so hashing is arithmetic over codepoints / token ids
(identical in any engine), never an engine-specific hash function.

Scale note: token ids are the codepoint-fold hash of the token — a pure
narrow JVM expression with NO distinct, NO global window and NO vocab join,
so the tokenize→id subtree never shuffles and scales to any corpus. Hash
collisions are deterministic and engine-identical, so oracle parity holds
exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2147483647  # arithmetic-hash modulus (2^31 - 1), shared with oracles
FOLD_M = 1000003  # fold multiplier (same as operators/linking.py shingles)

# fixed affine constants per minhash permutation j: a_j = 2j+3, b_j = j+1
# (small odd multipliers; exactly reproducible in SQL)
MINHASH_ROWS = 8
MINHASH_BANDS = 4

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is"]

# language marker sets for the n-gram/keyword heuristic (closed vocab)
LANG_MARKERS = {
    "en": ["the", "a", "value", "fast"],
    "es": ["table", "sort"],
    "fr": ["column", "merge"],
    "de": ["window", "batch"],
    "zh": ["spark", "stream"],
}
LANG_ORDER = ["en", "es", "fr", "de", "zh"]  # deterministic tie-break


def fold_hash(col) -> Column:
    """Codepoint-fold hash h = foldl((acc, cp) -> (acc*1000003 + cp) % P31, 0).

    Pure narrow expression (sequence→ascii→aggregate, all JVM built-ins,
    whole-stage codegen); the DuckDB oracle reproduces it with list_reduce.
    Empty string hashes to 0 (ascii('') = 0 in both engines).
    ANSI-overflow-safe: acc < 2^31, acc*1000003 < 2^51.
    """
    c = F.col(col) if isinstance(col, str) else col
    cps = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c), F.lit(1))),
        lambda i: F.ascii(c.substr(i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        cps,
        F.lit(0).cast("long"),
        lambda acc, cp: (acc * F.lit(FOLD_M) + cp) % F.lit(P31),
    )


def token_id_array(text_col) -> Column:
    """array<long> of fold-hash token ids for a whitespace-split text column
    — the zero-shuffle building block for per-doc aggregates."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.transform(F.split(c, " "), fold_hash)


def affine_hash(col, j: int):
    """h_j(x) = ((2j+3) * x + (j+1)) mod P31 — oracle-reproducible."""
    return (col * F.lit(2 * j + 3) + F.lit(j + 1)) % F.lit(P31)
