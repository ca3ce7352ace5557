"""Stage-4 near-dup keeper selection (pretrain.near_dup_keep): the
production dedup hierarchy exact -> LSH -> components, end to end over
a planted corpus exercising every keep/drop path."""

from pyspark.sql import functions as F

from boilerpipe_coffee_spark.operators.pretrain import (
    content_features,
    near_dup_keep,
)
from boilerpipe_coffee_spark.sources import OUTPUT_SCHEMA

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
    "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega one "
    "two three four five six seven eight nine ten eleven twelve "
)
# disjoint vocabulary so the exact-twin pair is NOT a near-dup of BASE
BASE2 = (
    "granite basalt marble slate quartz feldspar mica gneiss schist "
    "obsidian pumice shale limestone dolomite chalk flint gypsum "
    "anthracite lignite peat copper iron zinc nickel cobalt tin "
    "silver gold platinum mercury lead bismuth antimony arsenic "
)


def _doc(doc_id, text):
    return (
        doc_id,
        "t",
        [{"kind": "text", "text": text, "media_ref": None, "order": 0}],
        None,
    )


def test_near_dup_keepers(spark):
    rows = [
        _doc("doc-a1", BASE + "ending alpha variant"),
        _doc("doc-a2", BASE + "ending beta variant"),  # near-dup of a1
        # singleton: varied words (a repeated phrase would trip the
        # dup-bigram repetition gate)
        _doc(
            "doc-b",
            "the harbor held forty small sailing boats whose crews "
            "traded stories about winds tides charts anchors ropes "
            "sails masts rudders compasses lanterns and long journeys "
            "across cold northern waters every autumn season",
        ),
        _doc("doc-c1", BASE2 + "exact twin tail"),
        _doc("doc-c2", BASE2 + "exact twin tail"),     # exact dup of c1
        _doc("doc-d", "too short"),                    # fails gates
    ]
    extracted = spark.createDataFrame(rows, OUTPUT_SCHEMA)
    out = near_dup_keep(content_features(extracted))
    got = {
        r.doc_id: (r.keep, r.cluster_id, r.keep_final) for r in out.collect()
    }
    # exact stage: c2 is non-canonical; gates: d fails
    assert got["doc-c2"][0] is False and got["doc-c2"][2] is False
    assert got["doc-d"][0] is False and got["doc-d"][2] is False
    # near-dup cluster a1~a2: min doc_id wins
    assert got["doc-a1"] == (True, "doc-a1", True)
    assert got["doc-a2"] == (True, "doc-a1", False)
    # survivors without near-dups keep themselves
    assert got["doc-b"] == (True, "doc-b", True)
    assert got["doc-c1"] == (True, "doc-c1", True)
    # rows that never entered the stage have null cluster_id
    assert got["doc-c2"][1] is None and got["doc-d"][1] is None


def test_near_dup_keep_output_hash_partitioned_by_doc_id(spark):
    """The labels join must stay a sort-merge join on doc_id.  Over
    persisted features (as the pipeline job and perfbench run it) the
    checkpointed labels look small, and a broadcast of them would leave
    the output partitioned by content_features' content_hash; the
    doc_id-bucketed training write would then open a writer per
    (partition, bucket) instead of one per bucket."""
    rows = [
        _doc("doc-a1", BASE + "ending alpha variant"),
        _doc("doc-a2", BASE + "ending beta variant"),
        _doc("doc-c1", BASE2 + "exact twin tail"),
    ]
    features = content_features(
        spark.createDataFrame(rows, OUTPUT_SCHEMA)
    ).persist()
    try:
        features.count()
        out = near_dup_keep(features)
        # AdaptiveSparkPlan reports UnknownPartitioning; its initial
        # plan carries the planned one
        plan = out._jdf.queryExecution().executedPlan().initialPlan()
        part = plan.outputPartitioning().toString()
        assert part.startswith("hashpartitioning(doc_id#"), part
    finally:
        features.unpersist()


def test_near_dup_keep_final_subset_of_keep(spark):
    """On the organic flagship corpus keep_final implies keep and the
    cluster keeper is the cluster minimum."""
    from boilerpipe_coffee_spark.operators import extract
    from boilerpipe_coffee_spark.sources import synth_interleaved

    docs = synth_interleaved(spark, 120, seed=42)
    out = near_dup_keep(content_features(extract(docs, "ArticleExtractor")))
    bad = out.filter(F.col("keep_final") & ~F.col("keep")).count()
    assert bad == 0
    mins = (
        out.filter(F.col("keep"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("mn"), F.sum(F.col("keep_final").cast("int")).alias("k"))
    )
    rowz = mins.collect()
    assert all(r.k == 1 and r.mn == r.cluster_id for r in rowz)


def _features_mirror(text):
    """Pure-Python n_tokens / dup_bigram_frac: the [^a-z0-9]+ token
    split and Spark's round(double, 4) (HALF_UP on the shortest
    decimal repr -- Python's round() is banker's)."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    dup = (len(grams) - len(set(grams))) / max(len(grams), 1)
    dup = float(Decimal(repr(dup)).quantize(Decimal("0.0001"), ROUND_HALF_UP))
    return len(toks), dup


def test_content_features_match_python_mirror(spark):
    """n_tokens and dup_bigram_frac over a long document (the bigram
    pass must stay linear in its length), a repetition-heavy one,
    non-ASCII text, and texts with fewer than 2 tokens."""
    import random

    rng = random.Random(3)
    vocab = BASE.split() + BASE2.split()
    texts = {
        "doc-long": " ".join(rng.choice(vocab) for _ in range(3500)),
        "doc-rep": "buy now and save big " * 40 + "final words here",
        "doc-utf": "Café naïve Über straße 東京 über café NAÏVE déjà vu, "
        "ça va? Ωmega ünïcode café",
        "doc-one": "Hello!!!",
        "doc-none": "— … ¡¿",
    }
    extracted = spark.createDataFrame(
        [_doc(k, v) for k, v in texts.items()], OUTPUT_SCHEMA
    )
    got = {
        r.doc_id: (r.n_tokens, r.dup_bigram_frac)
        for r in content_features(extracted).collect()
    }
    assert got == {k: _features_mirror(v) for k, v in texts.items()}
    assert got["doc-long"][0] == 3500 and got["doc-one"][0] == 1
