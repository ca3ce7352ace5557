"""The per-document kernel (``textstats._quality_counts_udf`` + the
``quality_expr`` Column builder and ``content_features``' derived
columns) against the declarative expressions it replaced, plus the
plan shape of its callers.

- parity: the kernel's quality columns and ``content_features``'
  n_tokens / dup_bigram_frac / quality == the interpreted token-HOF
  reference (Java regex ``\\s``, Spark ``length``, ``shingles(2)`` +
  ``array_distinct``) kept below, on crafted texts and on generated
  ones;
- plan shape: ``quality_score``, ``quality_histogram_quantiles``'s
  histogram input and ``content_features`` hold exactly one
  Python-eval node, so the kernel runs once per document;
  ``quality_gate`` adds none (over a persisted input, none above the
  cache), and a ``(doc_id, text)`` projection of the features feeds
  the dedup probe without one;
- the histogram walk: an empty corpus still gives one all-null row,
  equal to the DuckDB oracle's;
- no token HOF is left in the kernel's callers.
"""

import inspect
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from boilerpipe_coffee_spark.functions import TOKENS, shingles
from boilerpipe_coffee_spark.operators import pretrain
from boilerpipe_coffee_spark.operators.dedup import (
    build_dedup_index,
    probe_dedup_index,
)
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


def _reference(df):
    """The declarative expressions the kernel replaced, verbatim: the
    quality parts, and content_features' token count and bigram
    duplicate fraction (tokens and bigrams bound to columns once)."""
    toks = F.col("toks")
    grams = F.col("grams")
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
    dup_bigram = F.round(
        (F.size(grams) - F.size(F.array_distinct(grams)))
        / F.greatest(F.size(grams), F.lit(1)),
        4,
    )
    return (
        df.withColumn("toks", F.expr(TOKENS))
        .withColumn("grams", F.expr(shingles(2, "toks")))
        .select(
            "i",
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
            dup_bigram.alias("dup_bigram_frac"),
        )
    )


_SPANS = (
    "doc_id int, title string, spans array<struct<kind:string,"
    "text:string,media_ref:string,`order`:int>>, error string"
)
FEATURE_COLS = ("n_tokens", "dup_bigram_frac", "quality")


def _extracted(spark, texts):
    """One text span per document: content_features' text is the
    span's text (null and empty texts are dropped)."""
    return spark.createDataFrame(
        [(i, "t", [("text", t, None, 0)], None) for i, t in enumerate(texts)],
        _SPANS,
    )


def _both(spark, texts):
    """(reference, kernel, content_features) rows keyed by text index:
    reference ``COLS + (dup_bigram_frac,)``, kernel ``COLS``,
    content_features ``FEATURE_COLS`` (non-empty texts only)."""
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    ref = _reference(df)
    got = T.with_quality_counts(df).select(
        "i", *T.quality_expr(F.col("_qc")).values()
    )
    assert ref.drop("dup_bigram_frac").schema == got.schema
    feats = pretrain.content_features(
        _extracted(spark, texts), min_tokens=0, max_dup_bigram=1.0
    ).select("doc_id", *FEATURE_COLS)
    return (
        {r.i: tuple(r)[1:] for r in ref.collect()},
        {r.i: tuple(r)[1:] for r in got.collect()},
        {r.doc_id: tuple(r)[1:] for r in feats.collect()},
    )


def _check(texts, ref, got, feats):
    names = COLS + ("dup_bigram_frac",)
    for i, text in enumerate(texts):
        assert got[i] == ref[i][: len(COLS)], (
            text, dict(zip(COLS, got[i])), ref[i]
        )
    assert set(feats) == {i for i, t in enumerate(texts) if t}
    for i, row in feats.items():
        want = tuple(ref[i][names.index(c)] for c in FEATURE_COLS)
        assert row == want, (texts[i], dict(zip(FEATURE_COLS, row)), want)


def test_kernel_matches_declarative_reference_on_crafted_texts(spark):
    ref, got, feats = _both(spark, CRAFTED)
    _check(CRAFTED, ref, got, feats)
    # the crafted set exercises the cases, not only the happy path
    assert got[CRAFTED.index(None)] == (None,) * 5
    assert got[CRAFTED.index("")][0] == 0
    assert feats[CRAFTED.index(" ".join(["the"] * 150))][:2] == (150, 0.9933)
    assert feats[CRAFTED.index("\x0b")][:2] == (0, 0.0)


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
    _check(texts, *_both(spark, texts))


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


def _n_kernel_calls(plan: str) -> int:
    # \b: the kernel's own name, not a table such as band_counts
    return len(re.findall(r"\bcounts\(", plan))


def _above_cache(plan: str) -> str:
    """The plan text above its first cached scan (a plan prints its
    root first and a cached relation's plan under its scan)."""
    assert "InMemoryTableScan" in plan, plan
    return plan.split("InMemoryTableScan")[0]


def _features(spark):
    texts = [" ".join(["the", "cat"] * i) + "!" * (i % 3) for i in range(1, 40)]
    return pretrain.content_features(
        _extracted(spark, texts), min_tokens=0, max_dup_bigram=1.0
    )


def test_each_caller_runs_the_kernel_once_per_document(spark, monkeypatch):
    sf = "/root/testdata/sf0.001"
    plan = _plan(T.quality_score(spark, sf))
    assert _n_python_nodes(plan) == 1 and _n_kernel_calls(plan) == 1, plan

    seen = _capture_hist_inputs(monkeypatch)
    T.quality_histogram_quantiles(spark, sf)
    assert len(seen) == 1
    assert _n_python_nodes(seen[0]) == 1 and _n_kernel_calls(seen[0]) == 1

    features = _features(spark)
    p = _plan(features)
    assert _n_python_nodes(p) == 1 and _n_kernel_calls(p) == 1, p
    # the gate reads the features' quality column: its histogram input
    # and its output hold the features' one kernel node, no second one
    gated, _ = pretrain.quality_gate(features, 25.0)
    assert len(seen) == 2
    for p in (seen[1], _plan(gated)):
        assert _n_python_nodes(p) == 1 and _n_kernel_calls(p) == 1, p
    assert "_qc" not in features.columns and "_qc" not in gated.columns


def test_gate_over_persisted_features_runs_no_kernel(spark, monkeypatch):
    """The job persists the features before the gate: the histogram,
    the exact keep count and near_dup_keep's survivor filter then read
    the cache, and nothing above it re-runs the kernel."""
    seen = _capture_hist_inputs(monkeypatch)
    features = _features(spark).persist()
    try:
        gated, _ = pretrain.quality_gate(features, 25.0)
        assert len(seen) == 1
        survivors = gated.filter(F.col("keep")).select("doc_id", "text")
        for p in (seen[0], _plan(gated), _plan(survivors)):
            assert _n_python_nodes(_above_cache(p)) == 0, p
    finally:
        features.unpersist()


def test_probe_of_features_projection_runs_no_kernel(spark, tmp_path):
    """``--incremental`` probes ``features.select("doc_id", "text")``:
    column pruning drops the kernel from that plan."""
    features = _features(spark)
    d = str(tmp_path / "idx")
    build_dedup_index(features.select("doc_id", "text"), d)
    probe = probe_dedup_index(spark, features.select("doc_id", "text"), d)
    p = _plan(probe)
    assert _n_kernel_calls(p) == 0, p
    assert probe.count() == features.count()


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
    token_hofs = ("TOKENS", "shingles", "array_distinct", "F.aggregate",
                  "regexp_replace", "mapInPandas", "crossJoin")
    for fn in (
        T.quality_expr,
        T.quality_score,
        T.quality_histogram_quantiles,
        T.quality_bin_threshold,
        pretrain.quality_gate,
        pretrain.content_features,
    ):
        src = inspect.getsource(fn)
        for hof in token_hofs:
            assert hof not in src, (fn.__name__, hof)
        # content_features keeps F.filter / F.transform over ``spans``
        # (text reassembly, media count); no array HOF runs on tokens
        if fn is not pretrain.content_features:
            for hof in ("F.filter", "F.transform"):
                assert hof not in src, (fn.__name__, hof)
    assert not hasattr(pretrain, "TOKENS") and not hasattr(pretrain, "shingles")
