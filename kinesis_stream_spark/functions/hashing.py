"""Deterministic cross-engine hashing, tokenization, shingling.

Spark's native ``xxhash64``/``hash`` have no DuckDB equivalent, so every
hash that must be oracle-checkable derives from **md5** (bit-identical in
both engines): take the first 15 hex chars (60 bits — stays positive and
inside BIGINT), parse as an integer. Seeding = prefixing the input with the
seed, which is how multiple independent minhash permutations are built.

At 100 TB this stays a pure map-side JVM expression (md5 + conv are
codegen'd); no Python, no shuffle.

The 60-bit identity contract. Some operators take two strings as equal
when their :func:`md5_int64` values are equal:

- ``operators/setjoin.py`` carries every shingle as its hash, so its df
  counts, rarity order, prefix join and verify intersection compare
  hashes;
- ``operators/kmv.py`` counts distinct hashes as the exact distinct
  count;
- the minhash signatures (``operators/dedup.py``, replayed by
  ``operators/minhash_sql.py``) hash each shingle once and permute the
  hash (folded mod 2^31 − 1 first, so a signature is an estimate
  anyway).

That is exact only while no two distinct inputs collide. For n distinct
inputs spread uniformly over 2^60 values the expected number of
colliding pairs is n(n − 1)/2 / 2^60 ≈ n²/2^61: about 4·10⁻⁷ at
n = 10⁶, 0.43 at 10⁹, and roughly 43 at 10¹⁰ distinct shingles. A
colliding pair is one token where there were two, so a setjoin
intersection or a kmv count is off by one per pair; past about 10⁹
distinct inputs that is the error bound these operators carry.
``tests/test_hashing_contract.py`` fails when the range or the
cross-engine identity breaks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int64(col: Column, seed: int | None = None) -> Column:
    """60-bit non-negative integer hash of a string column (seeded)."""
    s = col if seed is None else F.concat(F.lit(f"{seed}|"), col)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def sql_md5_int64(expr: str, seed: int | None = None) -> str:
    """DuckDB twin of :func:`md5_int64`."""
    s = expr if seed is None else f"('{seed}|' || ({expr}))"
    return f"CAST(('0x' || SUBSTR(MD5({s}), 1, 15)) AS BIGINT)"


#: Whitespace class spelled out: Java's ``\s`` matches vertical tab
#: (\x0B) but RE2's (DuckDB) does not — a bare ``\s`` silently diverges
#: the engines on any document containing \x0B. The explicit class is
#: exactly Java's ``\s`` and means the same thing to RE2.
WS_RUN = r"[ \t\n\x0B\f\r]+"


def tokens(col: Column) -> Column:
    """Whitespace tokenization (documents are space-joined token soup)."""
    return F.split(col, WS_RUN)


def sql_tokens(expr: str) -> str:
    """DuckDB twin of :func:`tokens`."""
    return f"REGEXP_SPLIT_TO_ARRAY({expr}, '{WS_RUN}')"


def bind_once(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per
    row and pass the materialized result to ``body``.

    Higher-order-function lambdas are interpreted (no whole-stage
    codegen), and an outer expression referenced inside a lambda is
    RE-EVALUATED at every lambda invocation — ``slice(split(text), i,
    n)`` re-runs the regex split once per shingle position, turning a
    T-token document into O(T) full splits (measured 2.7 s vs 0.41 s
    for one shingle pass over 20k docs at sf0.1). Wrapping the value
    in a 1-element array and applying ``body`` through ``transform``
    makes it a lambda ARGUMENT — lambda arguments are computed values,
    so every use site reads the same materialized array. Pure JVM,
    bit-identical results."""
    return F.get(F.transform(F.array(value), body), F.lit(0))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a text column (distinct, order-free set).

    ``transform(sequence(1, len-n+1), i -> concat_ws(' ', slice(toks, i, n)))``
    — pure JVM array ops, no explode until the caller wants one. The
    token array is let-bound (:func:`bind_once`) so the regex split
    runs once per row, not once per shingle position.
    """
    sh = bind_once(
        tokens(col),
        lambda toks: F.array_distinct(
            F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), " "),
                ),
            ).otherwise(F.array(F.array_join(toks, " ")))
        ),
    )
    # NULL text → EMPTY shingle set (matching DuckDB's comprehension over
    # a NULL list), not [NULL]: a phantom NULL gram would survive the
    # explode and fabricate a (doc, gram) row the oracle never sees
    return F.when(col.isNotNull(), sh).otherwise(
        F.array().cast("array<string>")
    )


def sql_shingles(expr: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingles` (list comprehension over ranges)."""
    toks = sql_tokens(expr)
    return (
        f"LIST_DISTINCT(CASE WHEN LEN({toks}) >= {n} THEN "
        f"[ARRAY_TO_STRING({toks}[i:i+{n - 1}], ' ') "
        f"FOR i IN RANGE(1, LEN({toks}) - {n - 2})] "
        f"ELSE [ARRAY_TO_STRING({toks}, ' ')] END)"
    )
