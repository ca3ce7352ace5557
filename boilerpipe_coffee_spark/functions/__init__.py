"""The cross-engine token and hash functions, in three twins.

Every value the driver compares cell-for-cell between Spark and the
DuckDB oracle, and every value a vectorized Arrow stage computes in
Python, comes from ONE definition here, in three forms that must agree:

- Spark: ``TOKENS`` (SQL expr), ``shingles(k, toks)``, ``h64(col)``;
- DuckDB: ``TOKENS_DUCK``, ``shingles_duck(k)``, ``h64_duck(col)``;
- Python (the Arrow stages): :func:`tokens`, :func:`shingle_set`,
  :func:`md5_prefix64` (memoized per task by
  :func:`md5_prefix64_memo`), :func:`h60`, and :func:`doc_stage`, the
  one batch loop behind every per-document Arrow stage.  Stage
  closures reference only this module, so a Python worker imports
  nothing else of the package to run them.

What they compute:

- tokens: ascii word tokens of ``text`` -- lowercase split on
  non-alphanumeric runs, empties dropped (a null text has none).
- shingles: word k-grams of those tokens (space-joined), the
  dedup/similarity unit.  The Spark form takes the NAME of an
  already-bound token column: the expression references ``toks`` once
  per k-gram inside its lambda, so passing ``TOKENS`` itself would
  re-split the text once per k-gram.
- the hash: md5 of the utf-8 string; its first 8 digest bytes as an
  unsigned int are ``md5_prefix64``.  ``h64``/``h64_duck`` parse the
  first 15 hex chars, which is that int ``>> 4`` (:func:`h60`) -- the
  only hash both engines compute bit-identically.  SimHash's two
  32-bit hex windows are ``v >> 32`` and ``v & 0xFFFFFFFF``, and
  MinHash hashes ``h60 % (2^31-1)``, so one memo serves every stage.

The memo is per TASK: :func:`doc_stage` creates it inside the stage's
batch iterator, so it lives exactly as long as one task's batches.
Cross-document repetition (boilerplate n-grams, a shared vocabulary)
was measured at 38x at sf1.0, so most lookups skip the md5; the memo
is bounded (cleared at ``MEMO_CAP`` entries, tens of MB) so an
all-unique corpus cannot grow a worker, and nothing outlives the task.

KNOWN cross-engine tokenizer edge (probed): Java/Python lowercasing of
Turkish dotted 'İ' (U+0130) emits 'i' + U+0307 combining dot, which
the [^a-z0-9]+ split then treats as a separator ('İstanbul' ->
['i','stanbul']), while DuckDB's lower() folds it to a plain 'i'
('istanbul').  Spark's JVM ``lower`` and Python ``str.lower`` agree
with EACH OTHER (property-tested), so the engine is self-consistent;
only the DuckDB oracle diverges, and only on corpora containing that
character class.  All committed test/driver corpora are ASCII.  If a
real corpus needs it, normalize (strip combining marks) on BOTH sides
rather than special-casing one.
"""

from __future__ import annotations

import re
from hashlib import md5 as _md5

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


_SPLIT = re.compile(r"[^a-z0-9]+").split
MEMO_CAP = 1 << 20


def tokens(text: "str | None") -> "list[str]":
    """Python twin of ``TOKENS``/``TOKENS_DUCK`` (a null text -> [])."""
    return [t for t in _SPLIT((text or "").lower()) if t]


def shingle_set(toks: "list[str]", k: int = 3) -> "set[str]":
    """Python twin of ``list_distinct(shingles_duck(k))``."""
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def md5_prefix64(s: str) -> int:
    """First 8 md5 digest bytes of ``s`` as an unsigned 64-bit int."""
    return int.from_bytes(_md5(s.encode()).digest()[:8], "big")


def h60(s: str) -> int:
    """Python twin of :func:`h64` / :func:`h64_duck`."""
    return md5_prefix64(s) >> 4


def md5_prefix64_memo():
    """A fresh memoized :func:`md5_prefix64` over many strings:
    ``h(strs)`` is ``[md5_prefix64(s) for s in strs]``.  Cleared at
    ``MEMO_CAP`` entries.  A stage calls it once per document, not once
    per string, so a memo hit costs a dict lookup and no Python-level
    call.  Create one per task (see the module docstring)."""
    memo: dict = {}
    get = memo.get

    def h(strs) -> "list[int]":
        out = []
        for s in strs:
            v = get(s)
            if v is None:
                # md5_prefix64 inlined: most gram windows miss, and a
                # Python call per miss is measurable there
                v = int.from_bytes(_md5(s.encode()).digest()[:8], "big")
                if len(memo) >= MEMO_CAP:
                    memo.clear()
                memo[s] = v
            out.append(v)
        return out

    return h


def doc_id_sql_type(df) -> str:
    """Output-schema type for doc_id in the vectorized per-document
    stages.  Only string/int/bigint are supported -- anything else
    (decimal, struct, ...) must be rejected loudly rather than
    silently mis-declared as bigint in the mapInPandas schema."""
    dt = dict(df.dtypes)["doc_id"]
    if dt == "string":
        return "string"
    if dt in ("int", "bigint", "smallint", "tinyint"):
        return "bigint"
    raise TypeError(
        f"unsupported doc_id dtype {dt!r} for the signature stage "
        "(expected string or an integer type)"
    )


def doc_stage(docs, per_doc, schema: str):
    """(doc_id, text) -> (doc_id, <schema>) in one mapInPandas pass.

    ``per_doc(toks, h)`` gets one document's :func:`tokens` and the
    task's :func:`md5_prefix64_memo` (``h(strs)`` hashes a list), and
    returns that document's output COLUMNS: equal-length sequences in
    ``schema`` order, one value per output row (``()`` for no rows).
    Columns, not row tuples, because the gram stage emits one row per
    token window: extending per-column lists builds no tuple per row.
    This owns the batch loop, the per-task memo and the doc_id output
    type, so a stage supplies only its per-document math."""
    import pandas as pd
    from pyspark.sql.types import StructType

    out = StructType.fromDDL(f"doc_id {doc_id_sql_type(docs)}, {schema}")
    names = out.fieldNames()

    def run(batches):
        h = md5_prefix64_memo()
        for pdf in batches:
            ids, cols = [], [[] for _ in names[1:]]
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                got = per_doc(tokens(text), h)
                if got:
                    ids.extend([doc_id] * len(got[0]))
                    for col, vals in zip(cols, got):
                        col.extend(vals)
            if ids:
                yield pd.DataFrame(dict(zip(names, [ids, *cols])))

    return docs.select("doc_id", "text").mapInPandas(run, out)
