"""The quality kernel (``textstats._quality_counts_udf`` + the
``quality_expr`` Column builder) against the declarative expressions
it replaced, plus the plan shape of its three callers.

- parity: the kernel's five columns == the interpreted token-HOF
  reference (Java regex ``\\s``, Spark ``length``) kept below, on
  crafted texts and on generated ones;
- plan shape: ``quality_score``, ``quality_histogram_quantiles``'s
  histogram input and both ``quality_gate`` plans hold exactly one
  Python-eval node, so the kernel runs once per document;
- the histogram walk: an empty corpus still gives one all-null row,
  equal to the DuckDB oracle's;
- no token HOF is left in the quality code.
"""

import inspect

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from boilerpipe_coffee_spark.functions import TOKENS
from boilerpipe_coffee_spark.operators import pretrain
from boilerpipe_coffee_spark.operators import textstats as T

COLS = (
    "n_tokens", "mean_word_len", "stopword_ratio", "punct_ratio", "quality"
)

CRAFTED = [
    "The cat and the dog, in a house -- of course!",
    "\x0b",
    "a\x0bb\x0bthe",
    "\x1c",
    "x\x1cy\x1d\x1e\x1fz and",
    "\xa0",
    "the\xa0of\xa0and",
    "\u0130",
    "\u0130stanbul is the city",
    "café naïve ÆØÅ straße Σοφία",
    "\u212a kelvin \u212a",
    "\U0001f600",
    "smile \U0001f600 and \U0001f680 to the moon",
    "!!!???...;;;---",
    "   \t\n\r\f  ",
    "",
    None,
    " ".join(["the"] * 150),
    "9 99 999 a1b2 the2 THE And",
]


def _reference():
    """The declarative expressions the kernel replaced, verbatim."""
    toks = F.expr(TOKENS)
    n_tok = F.size(toks)
    stop = F.expr(T._arr_lit(T.STOPWORDS["en"]))
    stop_ratio = F.round(
        F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
        / F.greatest(F.size(toks), F.lit(1)),
        4,
    )
    punct_ratio = F.round(
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9\\s]", ""))
        )
        / F.greatest(F.length("text"), F.lit(1)),
        4,
    )
    return [
        n_tok.alias("n_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x))
            / F.greatest(n_tok, F.lit(1)),
            4,
        ).alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        F.round(
            F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
            + stop_ratio * 0.3
            + (1 - punct_ratio) * 0.3,
            4,
        ).alias("quality"),
    ]


def _both(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    ref = df.select("i", *_reference())
    got = T.with_quality_counts(df).select(
        "i", *T.quality_expr(F.col("_qc")).values()
    )
    assert ref.schema == got.schema
    return (
        {r.i: tuple(r)[1:] for r in ref.collect()},
        {r.i: tuple(r)[1:] for r in got.collect()},
    )


def test_kernel_matches_declarative_reference_on_crafted_texts(spark):
    ref, got = _both(spark, CRAFTED)
    for i, text in enumerate(CRAFTED):
        assert got[i] == ref[i], (text, dict(zip(COLS, got[i])), ref[i])
    # the crafted set exercises the cases, not only the happy path
    assert got[CRAFTED.index(None)] == (None,) * 5
    assert got[CRAFTED.index("")][0] == 0


_CHARS = st.one_of(
    st.characters(
        min_codepoint=0, max_codepoint=0x2FFFF, blacklist_categories=("Cs",)
    ),
    st.sampled_from(
        ["a", "Z", "0", " ", "!", "\x0b", "\x1c", "\xa0", "\u0130",
         "\u212a", "\U0001f600"]
    ),
)
# fragments glued together: stopwords show up as whole tokens when a
# neighbouring fragment ends or starts in a separator
_TEXT = st.lists(
    st.one_of(st.text(_CHARS, max_size=8), st.sampled_from(T.STOPWORDS["en"])),
    max_size=8,
).map("".join)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(st.one_of(st.none(), _TEXT), min_size=1, max_size=12))
def test_kernel_matches_declarative_reference_generated(spark, texts):
    ref, got = _both(spark, texts)
    assert got == ref


def _n_python_nodes(plan: str) -> int:
    return sum(
        plan.count(node)
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _capture_hist_inputs(monkeypatch):
    seen = []
    walk = T._quality_hist

    def spy(df):
        seen.append(_plan(df))
        return walk(df)

    monkeypatch.setattr(T, "_quality_hist", spy)
    return seen


def test_each_caller_runs_the_kernel_once_per_document(spark, monkeypatch):
    sf = "/root/testdata/sf0.001"
    plan = _plan(T.quality_score(spark, sf))
    assert _n_python_nodes(plan) == 1 and plan.count("counts(") == 1, plan

    seen = _capture_hist_inputs(monkeypatch)
    T.quality_histogram_quantiles(spark, sf)
    assert len(seen) == 1
    assert _n_python_nodes(seen[0]) == 1 and seen[0].count("counts(") == 1

    features = spark.createDataFrame(
        [(f"d{i}", " ".join(["the", "cat"] * i) + "!" * (i % 3), True, True)
         for i in range(1, 40)],
        "doc_id string, text string, is_canonical boolean, "
        "passes_gates boolean",
    )
    gated, _ = pretrain.quality_gate(features, 25.0)
    assert len(seen) == 2
    for p in (seen[1], _plan(gated)):
        assert _n_python_nodes(p) == 1 and p.count("counts(") == 1, p
    assert "_qc" not in gated.columns


def test_empty_corpus_gives_one_all_null_row(spark, tmp_path):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([], pa.int64()),
                "text": pa.array([], pa.string()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    out = T.quality_histogram_quantiles(spark, str(tmp_path))
    got = [tuple(r) for r in out.collect()]
    assert got == [(None,) * (1 + len(T.QUANTILE_QS))]
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'documents.parquet'}')"
        )
        want = con.execute(T.ORACLES["quality_histogram_quantiles"]).fetchall()
    finally:
        con.close()
    assert got == want
    assert T.quality_bin_threshold(
        spark.createDataFrame([], "quality double"), 0.05
    ) == 0


def test_no_token_hof_in_the_quality_code():
    for fn in (
        T.quality_expr,
        T.quality_score,
        T.quality_histogram_quantiles,
        T.quality_bin_threshold,
        pretrain.quality_gate,
    ):
        src = inspect.getsource(fn)
        for hof in ("TOKENS", "F.filter", "F.aggregate", "F.transform",
                    "regexp_replace", "mapInPandas", "crossJoin"):
            assert hof not in src, (fn.__name__, hof)
