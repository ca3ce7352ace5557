"""Spark pipeline golden tests: both the production (zero-shuffle
mapInArrow) and staged (mapInArrow parse + columnar window stages +
mapInArrow fusion tail) pipelines must reproduce the reference's golden
span sequences on the t1 corpus."""

import pytest

from boilerpipe_coffee_spark.operators import extract, extract_staged
from boilerpipe_coffee_spark.sources import INTERLEAVED_SCHEMA

from helpers import load_golden

EXTRACTORS = [
    "ArticleExtractor",
    "DefaultExtractor",
    "LargestContentExtractor",
    "KeepEverythingExtractor",
]


@pytest.fixture(scope="module")
def t1_df(spark):
    docs = load_golden("t1_docs")
    rows = [(d["doc_id"], d["spans"]) for d in docs]
    return spark.createDataFrame(rows, schema=INTERLEAVED_SCHEMA).cache()


def _check(result_df, extractor):
    expected = {g["doc_id"]: g for g in load_golden(f"t1_{extractor}")}
    got = result_df.collect()
    assert len(got) == len(expected)
    mismatches = []
    for row in got:
        exp = expected[row.doc_id]
        g_spans = [
            {
                "kind": s.kind,
                "text": s.text,
                "media_ref": s.media_ref,
                "order": s.order,
            }
            for s in (row.spans or [])
        ]
        want = {
            "title": exp["title"],
            "spans": exp["spans"],
            "error": exp["error"],
        }
        # quarantined docs must ACTUALLY return title='' and spans=[]
        # (no normalization here -- that contract is under test too)
        have = {"title": row.title, "spans": g_spans, "error": row.error}
        if have != want:
            mismatches.append((row.doc_id, want, have))
    assert not mismatches, f"{len(mismatches)} mismatches; first: {mismatches[0]}"


@pytest.mark.parametrize("extractor", EXTRACTORS)
def test_production_pipeline_golden(spark, t1_df, extractor):
    _check(extract(t1_df, extractor), extractor)


@pytest.mark.parametrize("extractor", EXTRACTORS)
def test_staged_pipeline_golden(spark, t1_df, extractor):
    _check(extract_staged(t1_df, extractor), extractor)


def test_staged_plan_has_single_exchange(spark, t1_df):
    """The staged pipeline's window stages + applyInPandas must share
    one hash exchange on doc_id (scale invariant: re-shuffling the
    exploded block table per stage would dominate at 100 TB)."""
    plan = extract_staged(t1_df, "ArticleExtractor")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_production_plan_has_no_exchange(spark, t1_df):
    plan = extract(t1_df, "ArticleExtractor")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_unfiltered_paths_agree(spark, t1_df):
    """Unfiltered has no golden file (no content spans by construction);
    assert the production and staged paths agree with each other and
    emit only media spans."""
    a = {r.doc_id: r for r in extract(t1_df, "Unfiltered").collect()}
    b = {r.doc_id: r for r in extract_staged(t1_df, "Unfiltered").collect()}
    assert set(a) == set(b)
    for doc_id, ra in a.items():
        rb = b[doc_id]
        sa = [(s.kind, s.text, s.media_ref, s.order) for s in (ra.spans or [])]
        sb = [(s.kind, s.text, s.media_ref, s.order) for s in (rb.spans or [])]
        assert (ra.title, sa, ra.error) == (rb.title, sb, rb.error), doc_id
        assert all(k != "text" for k, _, _, _ in sa)


def test_degenerate_span_inputs_both_paths(spark):
    """Empty span lists, NULL span lists, media-only docs, and NULL
    text payloads must flow through the production, staged and
    balanced paths without crashing, with identical outputs (locks the
    Arrow offsets/validity handling).  The balanced path's giant_chars
    sends the ``normal`` document through its raw giant passthrough."""
    from boilerpipe_coffee_spark.operators.pipeline import (
        extract_balanced_scoped,
    )

    rows = [
        ("empty", []),
        ("null_spans", None),
        ("media_only",
         [{"kind": "image", "text": None, "media_ref": "m1", "offset": 0}]),
        ("null_text",
         [{"kind": "text", "text": None, "media_ref": None, "offset": 0}]),
        ("normal",
         [{"kind": "text",
           "text": "<body><p>hello world this is fine text</p></body>",
           "media_ref": None, "offset": 0}]),
    ]
    df = spark.createDataFrame(rows, schema=INTERLEAVED_SCHEMA)
    prod = {r.doc_id: r for r in extract(df, "KeepEverythingExtractor").collect()}
    staged = {
        r.doc_id: r
        for r in extract_staged(df, "KeepEverythingExtractor").collect()
    }
    with extract_balanced_scoped(
        df, "KeepEverythingExtractor", giant_chars=10
    ) as bal:
        balanced = {r.doc_id: r for r in bal.collect()}
    assert set(prod) == set(staged) == set(balanced) == {r[0] for r in rows}

    def as_tuple(r):
        spans = [(s.kind, s.text, s.media_ref, s.order) for s in (r.spans or [])]
        return r.title, spans, r.error

    for doc_id in prod:
        want = as_tuple(prod[doc_id])
        assert as_tuple(staged[doc_id]) == want, doc_id
        assert as_tuple(balanced[doc_id]) == want, doc_id
    for doc_id in ("empty", "null_spans", "null_text"):
        assert prod[doc_id].error is None and not prod[doc_id].spans
    media = [(s.kind, s.media_ref, s.order) for s in prod["media_only"].spans]
    assert media == [("image", "m1", 0)]
    assert any(s.kind == "text" for s in prod["normal"].spans)


@pytest.mark.parametrize(
    "extractor",
    ["DefaultExtractor", "LargestContentExtractor", "KeepEverythingExtractor"],
)
def test_staged_plan_single_exchange_all_chains(spark, t1_df, extractor):
    plan = (
        extract_staged(t1_df, extractor)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_jsonl_source_golden_exact(spark):
    """read_interleaved_jsonl ingests the golden corpus format (the
    same .jsonl.gz tools/oracle.js consumes) and extraction over it is
    golden-exact -- closing the ingest loop for the reference's own
    interchange format."""
    import os

    from boilerpipe_coffee_spark.operators import extract
    from boilerpipe_coffee_spark.sources import read_interleaved_jsonl

    from helpers import load_golden

    path = os.path.join(
        os.path.dirname(__file__), "golden", "t1_docs.jsonl.gz"
    )
    docs = read_interleaved_jsonl(spark, path)
    got = {r.doc_id: r for r in extract(docs, "ArticleExtractor").collect()}
    expected = {g["doc_id"]: g for g in load_golden("t1_ArticleExtractor")}
    assert len(got) == len(expected) == 200
    for doc_id, exp in expected.items():
        row = got[doc_id]
        if exp["error"] is not None:
            assert row.error == exp["error"]
            continue
        spans = [
            {"kind": s.kind, "text": s.text, "media_ref": s.media_ref,
             "order": s.order}
            for s in (row.spans or [])
        ]
        assert spans == exp["spans"] and row.title == exp["title"]
