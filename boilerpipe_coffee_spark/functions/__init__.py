"""Shared scalar SQL fragments used across operators.

Each fragment exists in a Spark-SQL and a DuckDB form that compute
IDENTICAL values (the driver compares query results cell-for-cell), so
they live here once instead of drifting apart per module:

- ``TOKENS`` / ``TOKENS_DUCK``: ascii word tokens of ``text`` --
  lowercase split on non-alphanumeric runs, empties dropped.
- ``shingles(k, toks)`` / ``shingles_duck(k)``: word k-grams of those
  tokens (space-joined), the dedup/similarity unit.  The Spark form
  takes the NAME of an already-bound token column: the expression
  references ``toks`` once per k-gram inside its lambda, so passing
  ``TOKENS`` itself would re-split the text once per k-gram.
- ``h64(col)`` / ``h64_duck(col)``: the md5-derived 60-bit integer
  hash -- the only hash both engines compute bit-identically; Column
  form for Spark operators, SQL-string form for the DuckDB oracles.

KNOWN cross-engine tokenizer edge (probed): Java/Python lowercasing of
Turkish dotted 'İ' (U+0130) emits 'i' + U+0307 combining dot, which
the [^a-z0-9]+ split then treats as a separator ('İstanbul' ->
['i','stanbul']), while DuckDB's lower() folds it to a plain 'i'
('istanbul').  Spark's JVM ``lower`` and the vectorized signature
stages' Python ``str.lower`` agree with EACH OTHER (verified), so the
engine is self-consistent; only the DuckDB oracle diverges, and only
on corpora containing that character class.  All committed test/driver
corpora are ASCII.  If a real corpus needs it, normalize (strip
combining marks) on BOTH sides rather than special-casing one.
"""

from __future__ import annotations

TOKENS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
TOKENS_DUCK = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)


def shingles(k: int, toks: str) -> str:
    """Spark SQL expr: word k-gram strings of the token array column
    ``toks`` (bind ``TOKENS`` to a column first)."""
    return (
        f"CASE WHEN size({toks}) >= {k} THEN "
        f"transform(sequence(1, size({toks}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {k}))) "
        "ELSE array() END"
    )


def shingles_duck(k: int = 3, toks: str = TOKENS_DUCK) -> str:
    """DuckDB expr computing the same k-gram strings."""
    return (
        f"list_transform(range(1, len({toks}) - {k - 2}), "
        f"i -> array_to_string(({toks})[i:i+{k - 1}], ' '))"
    )


def h64(col):
    """Column-level md5-hex prefix -> bigint (60 bits, non-negative).
    THE cross-engine hash: every operator that needs a hash both Spark
    and the DuckDB oracle compute bit-identically must use this and
    :func:`h64_duck`, never a local copy."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def h64_duck(col: str) -> str:
    """DuckDB twin of :func:`h64`."""
    return f"('0x' || substring(md5({col}), 1, 15))::BIGINT"
