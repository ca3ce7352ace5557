"""The Python token/hash kernel (``functions``) against its Spark and
DuckDB twins, plus the structural rule that keeps it the only copy.

- property: Python ``tokens`` + ``h60`` == Spark ``TOKENS`` + ``h64``
  on every input (non-ASCII, empty, null), and == DuckDB
  ``TOKENS_DUCK`` + ``h64_duck`` on every input without U+0130;
- the one known DuckDB divergence (U+0130) is pinned by example;
- the per-task memo returns the direct hash, across a clear;
- no operator module compiles its own ``[^a-z0-9]+`` split or holds
  its own md5 memo.
"""

import ast
import pathlib

import duckdb
from hypothesis import HealthCheck, given, settings, strategies as st

from boilerpipe_coffee_spark import functions as K

_OPS = pathlib.Path(K.__file__).resolve().parent.parent / "operators"
DOTTED_I = "\u0130"

_CHARS = st.one_of(
    st.characters(
        min_codepoint=0, max_codepoint=0x2FFFF, blacklist_categories=("Cs",)
    ),
    # the Kelvin sign is the one non-ASCII code point that lowercases
    # into [a-z]
    st.sampled_from(["a", "Z", "0", "9", " ", "-", DOTTED_I, "\u212a"]),
)
_TEXTS = st.lists(
    st.one_of(st.none(), st.text(_CHARS, max_size=30)),
    min_size=1,
    max_size=12,
)


def _spark_twin(spark, texts):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    rows = df.select(
        "i",
        F.expr(K.TOKENS).alias("toks"),
        F.transform(F.expr(K.TOKENS), lambda t: K.h64(t)).alias("hs"),
    ).collect()
    return {r.i: (r.toks, r.hs) for r in rows}


def _duck_twin(texts):
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE d (i INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(texts)))
        rows = con.execute(
            f"SELECT i, {K.TOKENS_DUCK}, "
            f"list_transform({K.TOKENS_DUCK}, x -> {K.h64_duck('x')}) FROM d"
        ).fetchall()
    finally:
        con.close()
    return {i: (toks, hs) for i, toks, hs in rows}


def _python_twin(text):
    toks = K.tokens(text)
    return toks, [K.h60(t) for t in toks]


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_TEXTS)
def test_python_tokens_and_hash_match_spark_and_duckdb(spark, texts):
    spark_out = _spark_twin(spark, texts)
    duck_out = _duck_twin(texts)
    for i, text in enumerate(texts):
        want = _python_twin(text)
        # a null text has no tokens; the SQL forms propagate the null
        got = spark_out[i]
        assert (got[0] or [], got[1] or []) == want, (text, got, want)
        if text is None or DOTTED_I not in text:
            got = duck_out[i]
            assert (got[0] or [], got[1] or []) == want, (text, got, want)


def test_dotted_capital_i_is_the_known_duckdb_divergence(spark):
    text = DOTTED_I + "stanbul"
    py = _python_twin(text)
    assert py[0] == ["i", "stanbul"]
    assert _spark_twin(spark, [text])[0] == py
    assert _duck_twin([text])[0][0] == ["istanbul"]


def test_memo_returns_the_direct_hash_across_clears(monkeypatch):
    monkeypatch.setattr(K, "MEMO_CAP", 3)
    h = K.md5_prefix64_memo()
    words = [f"w{i % 7}" for i in range(50)]
    want = [K.md5_prefix64(w) for w in words]
    assert h(words) == want
    assert [v for w in words for v in h([w])] == want
    # h60 is the 60-bit h64 value: the first 15 md5 hex chars
    import hashlib

    for w in words:
        assert K.h60(w) == int(hashlib.md5(w.encode()).hexdigest()[:15], 16)


def _call_name(node):
    fn = node.func
    return fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")


def _own_kernel_copies(path):
    """Sorted (line, what) for each private token split, md5-prefix
    hash or md5 memo in the module at ``path``."""
    tree = ast.parse(path.read_text())
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            # a dict cleared on overflow, in a function that calls md5
            calls = [n for n in ast.walk(node) if isinstance(n, ast.Call)]
            if any(_call_name(c) == "md5" for c in calls):
                found.update(
                    (c.lineno, "md5 memo")
                    for c in calls
                    if _call_name(c) == "clear"
                )
        if not isinstance(node, ast.Call):
            continue
        name = _call_name(node)
        # re.compile(r"[^a-z0-9]+") -- the TOKENS split
        if (
            name == "compile"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and "[^a-z0-9]+" in str(node.args[0].value)
        ):
            found.add((node.lineno, "token split regex"))
        # int.from_bytes(<md5>.digest()...) / int(<md5>.hexdigest()..., 16)
        if name in ("from_bytes", "int") and node.args:
            inner = {
                _call_name(n)
                for n in ast.walk(node.args[0])
                if isinstance(n, ast.Call)
            }
            if inner & {"digest", "hexdigest"}:
                found.add((node.lineno, "md5-prefix hash"))
    return sorted(found)


def test_operators_hold_no_private_tokenizer_or_md5_memo():
    offenders = {
        p.name: hits
        for p in sorted(_OPS.glob("*.py"))
        if (hits := _own_kernel_copies(p))
    }
    assert offenders == {}, offenders
