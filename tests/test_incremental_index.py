"""Materialized incremental-dedup index (round 7, VERDICT r6 task 2):
build_dedup_index / probe_dedup_index and the run_pipeline
--emit-dedup-index / --incremental job modes.

The index is the production form of the ``dedup_incremental`` driver
query: content-hash + capped minhash band tables materialized ONCE per
corpus version (bucketed on their probe join keys), probed per
incoming crawl batch with joins that shuffle only the batch side.
"""

import json
import os
import re
import subprocess
import sys


from pyspark.sql import functions as F

from boilerpipe_coffee_spark.operators.dedup import (
    INCR_SPLIT_MOD,
    build_dedup_index,
    dedup_incremental,
    minhash_banding,
    minhash_bands_df,
    probe_dedup_index,
)

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "run_pipeline.py")


def test_probe_matches_driver_query(spark, tmp_path_factory):
    """Index build + probe over the same existing/incoming split must
    reproduce the ``dedup_incremental`` driver rows EXACTLY -- the job
    mode and the oracle-checked query cannot drift."""
    d = str(tmp_path_factory.mktemp("dix"))
    docs = spark.read.parquet(SF + "/documents.parquet")
    n = docs.count()
    existing = docs.filter(F.col("doc_id") % INCR_SPLIT_MOD != 0)
    incoming = docs.filter(F.col("doc_id") % INCR_SPLIT_MOD == 0)
    # the driver query derives banding from the FULL table count;
    # mirror it (both land legacy at this scale, but be explicit)
    build_dedup_index(
        existing.select("doc_id", "text"), d, banding=minhash_banding(n)
    )
    probe = probe_dedup_index(spark, incoming.select("doc_id", "text"), d)
    got = sorted(tuple(r) for r in probe.collect())
    want = sorted(
        tuple(r)
        for r in dedup_incremental(spark, SF)
        .select("doc_id", "exact_dup_of", "near_dup_of", "keep")
        .collect()
    )
    assert got == want


def test_band_probe_plan_is_asymmetric(spark, tmp_path_factory):
    """The band probe join must scan the index side BUCKETED (no
    re-shuffle of the existing corpus -- its exchange was paid once at
    build) and shuffle only the incoming batch: exactly ONE Exchange
    in the join plan, with the bucketed scan visible."""
    d = str(tmp_path_factory.mktemp("dixplan"))
    docs = spark.read.parquet(SF + "/documents.parquet")
    existing = docs.filter(F.col("doc_id") % INCR_SPLIT_MOD != 0)
    incoming = docs.filter(F.col("doc_id") % INCR_SPLIT_MOD == 0)
    meta = build_dedup_index(existing.select("doc_id", "text"), d)
    from boilerpipe_coffee_spark.operators.dedup import _index_tag

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ex_bands = spark.table(f"bpc_dedup_idx_b_{_index_tag(d)}")
        near = minhash_bands_df(
            incoming.select("doc_id", "text"), tuple(meta["banding"])
        ).join(ex_bands, "band_key")
        plan = near._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
        assert near.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ------------------------------------------------------------------ #
# job-level e2e: corpus v1 emits the index, batch v2 probes it         #
# ------------------------------------------------------------------ #


def _env():
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    return env


def _run_job(*args):
    proc = subprocess.run(
        [sys.executable, JOB, *args],
        cwd=REPO, capture_output=True, text=True, timeout=900, env=_env(),
    )
    lines = [
        l for l in proc.stdout.strip().splitlines() if l.startswith("{")
    ]
    assert lines, (
        f"no summary JSON; rc={proc.returncode} "
        f"stderr tail: {proc.stderr[-2000:]}"
    )
    return json.loads(lines[-1])


def test_pipeline_incremental_e2e(tmp_path_factory):
    """v1 builds the corpus + index; v2 ingests the IDENTICAL corpus
    incrementally: every v1-kept doc must match the index exactly and
    a full re-crawl shrinks to (almost) nothing -- the near-fixed
    point of a repeated crawl (see the pinned-values comment for the
    one transitive-cluster exception)."""
    v1 = str(tmp_path_factory.mktemp("incr_v1"))
    v2 = str(tmp_path_factory.mktemp("incr_v2"))
    s1 = _run_job(
        "--synth", "200", "--output", v1, "--buckets", "4",
        "--emit-dedup-index",
    )
    assert s1["dedup_index"] == os.path.join(v1, "dedup_index")
    assert os.path.exists(
        os.path.join(v1, "dedup_index", "index_meta.json")
    )
    s2 = _run_job(
        "--synth", "200", "--output", v2, "--buckets", "4",
        "--incremental", v1,
    )
    # every v1 keeper reappears verbatim in the v2 batch -> exact hit
    # (non-canonical twins of kept canonicals would also exact-hit)
    assert s2["incr_exact_dup"] >= s1["kept"]
    # only docs the probe called novel reach the intra-batch stages
    assert s2["exact_kept"] <= s2["incr_novel"]
    # deterministic corpus -> pinned partition of the 187 feature docs
    # (200 synth - 12 quarantined - 1 empty): 37 exact (== the v1
    # keep-set), 98 near (band-match against a keeper), 52 novel
    # (v1 gate-failures, which v2's own gates re-drop).  kept == 1,
    # NOT 0: one v1 cluster NON-keeper was connected to its keeper
    # only TRANSITIVELY (A-B, B-C components edge), so the single-hop
    # band probe cannot see it -- the expected semantic gap between
    # one-shot probing and transitive components, bounded by cluster
    # diameter.
    assert s2["incr_exact_dup"] == 37
    assert s2["incr_near_dup"] == 98
    assert s2["incr_novel"] == 52
    assert s2["kept"] == 1


def test_pipeline_incremental_with_dup_span_scrub(tmp_path_factory):
    """The full job-level composition of --scrub-dup-spans with the
    incremental index: v1 builds a SPLICED corpus + index (gram list
    materialized), v2 re-crawls the identical raw corpus through
    --incremental -- every v1 keeper must still exact-hit, which only
    works if the probe replays the splice from the index's dup_grams
    table (the synth corpus is template-heavy, so un-replayed raw
    hashes would miss nearly everything)."""
    v1 = str(tmp_path_factory.mktemp("incr_scrub_v1"))
    v2 = str(tmp_path_factory.mktemp("incr_scrub_v2"))
    s1 = _run_job(
        "--synth", "200", "--output", v1, "--buckets", "4",
        "--emit-dedup-index", "--scrub-dup-spans",
    )
    with open(os.path.join(v1, "dedup_index", "index_meta.json")) as f:
        meta = json.load(f)
    assert meta["dup_span_scrubbed"] is True
    assert os.path.isdir(os.path.join(v1, "dedup_index", "dup_grams"))
    assert s1["dup_span_scrubbed_docs"] > 0

    s2 = _run_job(
        "--synth", "200", "--output", v2, "--buckets", "4",
        "--incremental", v1, "--scrub-dup-spans", "--emit-dedup-index",
    )
    # identical re-crawl: every v1 keeper exact-hits the spliced index
    assert s2["incr_exact_dup"] >= s1["kept"], (s1, s2)
    # the rolled index carries the representation + gram list forward
    with open(os.path.join(v2, "dedup_index", "index_meta.json")) as f:
        meta2 = json.load(f)
    assert meta2["dup_span_scrubbed"] is True
    assert os.path.isdir(os.path.join(v2, "dedup_index", "dup_grams"))


# ------------------------------------------------------------------ #
# index roll-forward: update_dedup_index (round 7)                    #
# ------------------------------------------------------------------ #


def test_update_equals_fresh_build(spark, tmp_path_factory):
    """update(prior index, batch) must equal a fresh build over the
    union corpus at the frozen banding, table by table -- hashes,
    bands AND the pre-cap band_counts (min-of-mins for hashes; the
    cap re-applied on merged counts keeps exactly the fresh build's
    row set, because a bucket whose merged total fits the cap was
    never capped in the prior version either)."""
    from boilerpipe_coffee_spark.operators.dedup import (
        update_dedup_index,
    )

    base = str(tmp_path_factory.mktemp("dixup"))
    docs = (
        spark.read.parquet(SF + "/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )
    v1_docs = docs.filter(F.col("doc_id").cast("bigint") % 3 != 0)
    batch = docs.filter(F.col("doc_id").cast("bigint") % 3 == 0)

    v1 = os.path.join(base, "v1")
    v2 = os.path.join(base, "v2")
    fresh = os.path.join(base, "fresh")
    meta1 = build_dedup_index(v1_docs, v1)
    meta2 = update_dedup_index(batch, v1, v2)
    metaf = build_dedup_index(docs, fresh, banding=tuple(meta1["banding"]))

    assert meta2["banding"] == metaf["banding"]
    assert meta2["n_docs"] == docs.count()
    for sub in ("hashes", "bands", "band_counts"):
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(v2, sub)).collect()
        )
        want = sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(fresh, sub)).collect()
        )
        assert got == want, sub


def test_update_cap_crossing(spark, tmp_path_factory):
    """A band bucket under the cap in v1 that crosses it after the
    merge must lose its PRIOR rows too -- the reason band_counts is
    materialized at build time."""
    from boilerpipe_coffee_spark.operators.dedup import (
        update_dedup_index,
    )

    base = str(tmp_path_factory.mktemp("dixcap"))
    t = "alpha beta gamma delta epsilon zeta"
    v1_docs = spark.createDataFrame(
        [("a1", t), ("a2", t)], "doc_id string, text string"
    )
    batch = spark.createDataFrame([("a3", t)], "doc_id string, text string")
    v1 = os.path.join(base, "v1")
    v2 = os.path.join(base, "v2")
    build_dedup_index(v1_docs, v1, banding=(4, 2), bucket_cap=2)
    assert spark.read.parquet(os.path.join(v1, "bands")).count() > 0
    update_dedup_index(batch, v1, v2)
    # merged bucket count 3 > cap 2: every band row (old AND new) gone
    # (the dir is legitimately EMPTY -- no file to infer schema from,
    # which is exactly why index consumers register with the meta's
    # explicit schema)
    assert (
        spark.read.schema("ex_id string, band_key string")
        .parquet(os.path.join(v2, "bands"))
        .count()
        == 0
    )
    # ... but the counts remember the flooded bucket at its true size
    cnt = spark.read.parquet(os.path.join(v2, "band_counts"))
    assert cnt.agg(F.max("bn")).collect()[0][0] == 3
    # and the exact-hash side still catches a fourth copy
    probe = probe_dedup_index(
        spark,
        spark.createDataFrame([("a4", t)], "doc_id string, text string"),
        v2,
    ).collect()[0]
    assert probe["exact_dup_of"] == "a1"


def test_pipeline_incremental_rolls_index(tmp_path_factory):
    """--incremental + --emit-dedup-index must produce the NEXT corpus
    version's index (v1 docs unioned with this batch's keepers), not
    an index over only the batch."""
    v1 = str(tmp_path_factory.mktemp("roll_v1"))
    v2 = str(tmp_path_factory.mktemp("roll_v2"))
    s1 = _run_job(
        "--synth", "200", "--output", v1, "--buckets", "4",
        "--emit-dedup-index",
    )
    s2 = _run_job(
        "--synth", "200", "--output", v2, "--buckets", "4",
        "--incremental", v1, "--emit-dedup-index",
    )
    with open(os.path.join(v2, "dedup_index", "index_meta.json")) as f:
        meta = json.load(f)
    # v2 corpus = v1 keepers + this batch's keepers
    assert meta["n_docs"] == s1["kept"] + s2["kept"]
    assert meta["banding_stale"] is False
    import duckdb

    n_hashes = duckdb.sql(
        "SELECT count(*) FROM read_parquet('"
        + os.path.join(v2, "dedup_index", "hashes", "*.parquet")
        + "')"
    ).fetchone()[0]
    # identical re-crawl: batch keepers are novel docs only, so every
    # v1 hash survives and each new keeper adds exactly one
    assert n_hashes == s1["kept"] + s2["kept"]


# ------------------------------------------------------------------ #
# scrubbed-representation indexes (round 8, ADVICE r7)                 #
# ------------------------------------------------------------------ #


def test_scrubbed_index_matches_raw_refetch(spark, tmp_path_factory):
    """An index built from the PII-SCRUBBED keep-set (the --scrub-pii
    + --emit-dedup-index composition) must still exact-match a RAW
    re-fetch of the same PII-bearing docs: index_meta records
    scrubbed=true and probe_dedup_index redacts the probe side before
    hashing/banding.  Without that, re-crawled PII docs silently miss
    the hash and flood the corpus with perturbed-signature dups."""
    from boilerpipe_coffee_spark.operators.textstats import scrub_pii_df

    idx = str(tmp_path_factory.mktemp("dix_scrub"))
    raw_rows = [
        ("d1", "contact alice@example.com about the training corpus"),
        ("d2", "the origin server at 10.1.2.3 keeps timing out"),
        ("d3", "a perfectly ordinary document with no pii anywhere"),
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id string, text string")
    scrubbed = scrub_pii_df(raw).select("doc_id", "text")
    # the planted docs genuinely change under scrubbing (else this
    # test proves nothing)
    changed = {
        r["doc_id"]
        for r in scrubbed.exceptAll(raw.select("doc_id", "text")).collect()
    }
    assert changed == {"d1", "d2"}

    meta = build_dedup_index(scrubbed, idx, scrubbed=True)
    assert meta["scrubbed"] is True
    rows = {
        r["doc_id"]: r
        for r in probe_dedup_index(spark, raw, idx).collect()
    }
    # every re-fetched doc -- PII-bearing or not -- exact-matches
    for d, _ in raw_rows:
        assert rows[d]["exact_dup_of"] == d, rows[d]
        assert not rows[d]["keep"]
    # a raw-representation index is untouched by the new path
    idx_raw = str(tmp_path_factory.mktemp("dix_raw"))
    meta_raw = build_dedup_index(raw, idx_raw)
    assert meta_raw["scrubbed"] is False
    rows_raw = {
        r["doc_id"]: r
        for r in probe_dedup_index(spark, raw, idx_raw).collect()
    }
    for d, _ in raw_rows:
        assert rows_raw[d]["exact_dup_of"] == d


def test_dup_span_index_matches_raw_refetch(spark, tmp_path_factory):
    """An index built from the dup-span-SPLICED keep-set (the
    --scrub-dup-spans + --emit-dedup-index composition) must still
    exact-match a RAW re-fetch of a boilerplate-bearing doc: the
    index carries the frozen dup_grams boilerplate list and
    probe_dedup_index replays the splice on the probe side.  Without
    the list the transform is corpus-dependent and unreplayable --
    re-crawled boilerplate docs would silently miss the hash."""
    from boilerpipe_coffee_spark.operators.textstats import (
        DUP_SPAN_W,
        dup_grams_df,
        dup_span_scrub_df,
    )

    boiler = " ".join(f"bq{i}" for i in range(DUP_SPAN_W + 8))
    raw_rows = [
        ("d1", f"Unique head one. {boiler} And a unique tail one."),
        ("d2", f"Other head two! {boiler} Different tail two."),
        ("d3", "No shared block in this third document at all."),
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id string, text string")
    grams = dup_grams_df(raw)
    spliced = dup_span_scrub_df(
        raw, normal_form=False, grams=grams
    ).select("doc_id", F.col("scrubbed_text").alias("text"))
    # the planted docs genuinely change under the splice
    changed = {
        r["doc_id"]
        for r in spliced.exceptAll(raw.select("doc_id", "text")).collect()
    }
    assert changed == {"d1", "d2"}

    idx = str(tmp_path_factory.mktemp("dix_dupspan"))
    meta = build_dedup_index(
        spliced, idx, dup_span_scrubbed=True, dup_grams=grams
    )
    assert meta["dup_span_scrubbed"] is True
    rows = {
        r["doc_id"]: r
        for r in probe_dedup_index(spark, raw, idx).collect()
    }
    # every re-fetched doc -- boilerplate-bearing or not -- matches
    for d, _ in raw_rows:
        assert rows[d]["exact_dup_of"] == d, rows[d]
        assert not rows[d]["keep"]

    # roll the index forward with a batch carrying its own NEW
    # boilerplate: the gram list unions, and a raw re-fetch of the
    # batch doc still exact-matches against the rolled index
    from boilerpipe_coffee_spark.operators.dedup import (
        update_dedup_index,
    )

    boiler2 = " ".join(f"nz{i}" for i in range(DUP_SPAN_W + 4))
    batch_raw = spark.createDataFrame(
        [
            ("d4", f"Fresh head four; {boiler2} fresh tail four."),
            ("d5", f"Fresh head five; {boiler2} fresh tail five."),
        ],
        "doc_id string, text string",
    )
    batch_grams = dup_grams_df(batch_raw)
    batch_spliced = dup_span_scrub_df(
        batch_raw, normal_form=False, grams=batch_grams
    ).select("doc_id", F.col("scrubbed_text").alias("text"))
    v2 = str(tmp_path_factory.mktemp("dix_dupspan_v2"))
    meta2 = update_dedup_index(
        batch_spliced, idx, v2,
        dup_span_scrubbed=True, new_dup_grams=batch_grams,
    )
    assert meta2["dup_span_scrubbed"] is True
    rows2 = {
        r["doc_id"]: r
        for r in probe_dedup_index(
            spark, raw.unionByName(batch_raw), v2
        ).collect()
    }
    for d in ("d1", "d2", "d3", "d4", "d5"):
        assert rows2[d]["exact_dup_of"] == d, rows2[d]


def test_empty_dup_grams_index_probes_and_reads(spark, tmp_path_factory):
    """A corpus with NO surviving cross-doc spans has an EMPTY
    (file-less) dup_grams table.  The probe must still work (splice =
    no-op) and the pipeline's schema-explicit parquet read must
    return 0 rows instead of UNABLE_TO_INFER_SCHEMA -- the exact
    failure the 50k lifecycle chain hit."""
    from boilerpipe_coffee_spark.operators.textstats import dup_grams_df

    docs = spark.createDataFrame(
        [
            ("d1", "entirely unique first document text body"),
            ("d2", "second doc with different words throughout"),
        ],
        "doc_id string, text string",
    )
    grams = dup_grams_df(docs)
    assert grams.count() == 0
    idx = str(tmp_path_factory.mktemp("dix_empty_grams"))
    meta = build_dedup_index(
        docs, idx, dup_span_scrubbed=True, dup_grams=grams
    )
    assert meta["dup_span_scrubbed"] is True
    rows = {
        r["doc_id"]: r for r in probe_dedup_index(spark, docs, idx).collect()
    }
    for d in ("d1", "d2"):
        assert rows[d]["exact_dup_of"] == d
    # the run_pipeline read path for the prior list
    n = (
        spark.read.schema("g bigint")
        .parquet(os.path.join(idx, "dup_grams"))
        .count()
    )
    assert n == 0


def test_foreach_batch_probe_equals_batch_probe(spark, tmp_path_factory):
    """Streaming ingestion against a SCRUBBED index: the dup_grams
    splice replay aggregates per batch, so stream-static joins can't
    express it -- probe_index_foreach_batch runs the batch operator
    per micro-batch.  Drained availableNow output over several
    micro-batches must equal the one-shot batch probe row-for-row."""
    from boilerpipe_coffee_spark.operators.textstats import (
        DUP_SPAN_W,
        dup_grams_df,
        dup_span_scrub_df,
    )
    from boilerpipe_coffee_spark.streaming import probe_index_foreach_batch

    base = str(tmp_path_factory.mktemp("dix_stream_probe"))
    boiler = " ".join(f"fs{i}" for i in range(DUP_SPAN_W + 6))
    corpus = spark.createDataFrame(
        [
            ("c1", f"Corpus head alpha. {boiler} tail alpha."),
            ("c2", f"Corpus head beta! {boiler} tail beta."),
            ("c3", "A third corpus doc with only unique words."),
        ],
        "doc_id string, text string",
    )
    grams = dup_grams_df(corpus)
    spliced = dup_span_scrub_df(
        corpus, normal_form=False, grams=grams
    ).select("doc_id", F.col("scrubbed_text").alias("text"))
    idx = os.path.join(base, "idx")
    build_dedup_index(spliced, idx, dup_span_scrubbed=True, dup_grams=grams)

    # the batch: raw re-fetches (boilerplate intact) + one novel doc
    batch = spark.createDataFrame(
        [
            ("c1", f"Corpus head alpha. {boiler} tail alpha."),
            ("c3", "A third corpus doc with only unique words."),
            ("z9", "an entirely novel incoming document body"),
        ],
        "doc_id string, text string",
    )
    want = sorted(
        tuple(r) for r in probe_dedup_index(spark, batch, idx).collect()
    )

    drops = os.path.join(base, "drops")
    batch.repartition(3).write.parquet(drops)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    out = os.path.join(base, "out")
    probe_index_foreach_batch(
        stream, idx, out, os.path.join(base, "ckpt")
    )
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == want
    # the raw re-fetches exact-matched through the per-batch replay
    rows = {r[0]: r for r in got}
    assert rows["c1"][1] == "c1" and rows["c3"][1] == "c3"


def test_scrubbed_probe_still_shuffles_only_the_batch(
    spark, tmp_path_factory
):
    """The probe's asymmetry invariant must survive the splice
    replay: every non-broadcast Exchange in the scrubbed-probe plan
    partitions on the BATCH side's doc_id — never on g / h /
    band_key, which would mean an index-side table re-shuffled
    instead of scanning its bucketed layout (or broadcasting, for
    the small gram list)."""

    from boilerpipe_coffee_spark.operators.textstats import (
        DUP_SPAN_W,
        dup_grams_df,
        dup_span_scrub_df,
    )

    base = str(tmp_path_factory.mktemp("dix_scrub_plan"))
    b = " ".join(f"pl{i}" for i in range(DUP_SPAN_W + 3))
    corpus = spark.createDataFrame(
        [
            ("a", f"Head. {b} tail a."),
            ("b", f"Other. {b} tail b."),
            ("c", "unique words only here"),
        ],
        "doc_id string, text string",
    )
    grams = dup_grams_df(corpus)
    spliced = dup_span_scrub_df(
        corpus, normal_form=False, grams=grams
    ).select("doc_id", F.col("scrubbed_text").alias("text"))
    idx = os.path.join(base, "idx")
    build_dedup_index(spliced, idx, dup_span_scrubbed=True, dup_grams=grams)
    plan = (
        probe_dedup_index(spark, corpus, idx)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    bad = [
        ln.strip()
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and any(f"({k}#" in ln for k in ("g", "h", "band_key"))
    ]
    assert not bad, f"index-side exchange in scrubbed probe: {bad}"


def test_update_rejects_representation_mismatch(spark, tmp_path_factory):
    """Rolling a scrubbed index forward with raw-representation docs
    (or vice versa) must raise, not silently merge mixed hashes."""
    import pytest

    from boilerpipe_coffee_spark.operators.dedup import (
        update_dedup_index,
    )
    from boilerpipe_coffee_spark.operators.textstats import scrub_pii_df

    base = str(tmp_path_factory.mktemp("dix_mismatch"))
    docs = spark.createDataFrame(
        [("d1", "mail bob@example.com today")],
        "doc_id string, text string",
    )
    v1 = os.path.join(base, "v1")
    build_dedup_index(
        scrub_pii_df(docs).select("doc_id", "text"), v1, scrubbed=True
    )
    batch = spark.createDataFrame(
        [("d9", "fresh doc")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="representation mismatch"):
        update_dedup_index(
            batch, v1, os.path.join(base, "v2"), scrubbed=False
        )
    # matching flag (caller scrubs the batch) rolls fine and carries
    # the representation forward
    meta = update_dedup_index(
        scrub_pii_df(batch).select("doc_id", "text"),
        v1,
        os.path.join(base, "v2b"),
        scrubbed=True,
    )
    assert meta["scrubbed"] is True


def test_update_rejects_dup_span_representation_mismatch(
    spark, tmp_path_factory
):
    """Same guard for the --scrub-dup-spans representation: an index
    built over spliced text refuses a roll that supplies unspliced
    docs (and vice versa), and the flag carries forward."""
    import pytest

    from boilerpipe_coffee_spark.operators.dedup import (
        update_dedup_index,
    )
    from boilerpipe_coffee_spark.operators.textstats import dup_grams_df

    base = str(tmp_path_factory.mktemp("dix_dupspan_mismatch"))
    docs = spark.createDataFrame(
        [("d1", "some corpus text here")], "doc_id string, text string"
    )
    v1 = os.path.join(base, "v1")
    # the flag without the boilerplate list is unreplayable -> refused
    with pytest.raises(ValueError, match="requires dup_grams"):
        build_dedup_index(docs, v1, dup_span_scrubbed=True)
    meta = build_dedup_index(
        docs, v1, dup_span_scrubbed=True, dup_grams=dup_grams_df(docs)
    )
    assert meta["dup_span_scrubbed"] is True
    batch = spark.createDataFrame(
        [("d9", "fresh doc")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="representation mismatch"):
        update_dedup_index(
            batch, v1, os.path.join(base, "v2"), dup_span_scrubbed=False
        )
    meta = update_dedup_index(
        batch, v1, os.path.join(base, "v2b"), dup_span_scrubbed=True
    )
    assert meta["dup_span_scrubbed"] is True
    # None skips the check (caller guarantees consistency), matching
    # the scrubbed flag's contract
    meta = update_dedup_index(batch, v1, os.path.join(base, "v2c"))
    assert meta["dup_span_scrubbed"] is True


# ------------------------------------------------------------------ #
# banding_stale epoch (round 8, VERDICT r7 task 2)                     #
# ------------------------------------------------------------------ #


def test_banding_stale_epoch_rebuild(spark, tmp_path_factory):
    """Corpus growth across a minhash_banding boundary: the roll that
    crosses it must flag banding_stale, the documented full rebuild
    at the new (b, r) must restore the adaptive policy (and clear the
    flag for subsequent rolls), and the rebuilt index must still
    catch exact and near-dup probes.  Tested at the cheap 1k
    boundary; the 10k epoch's planted recall/cost numbers are in
    BASELINE.md r8 ("banding_stale epoch")."""
    from boilerpipe_coffee_spark.operators.dedup import (
        minhash_banding,
        update_dedup_index,
    )

    base = str(tmp_path_factory.mktemp("epoch"))
    docs = (
        spark.read.parquet(SF + "/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .limit(500)
    )
    # synth to 1100 total: 900 v1 + 200 batch, texts made unique by a
    # doc-local suffix (the index is for an already-deduped corpus)
    pool = [
        (f"d{i:04d}", f"{r['text']} epochtail{i}")
        for i, r in enumerate(
            docs.collect() + docs.collect() + docs.collect()
        )
    ][:1100]
    v1 = spark.createDataFrame(pool[:900], "doc_id string, text string")
    batch = spark.createDataFrame(
        pool[900:], "doc_id string, text string"
    )
    v1_dir = os.path.join(base, "v1")
    meta = build_dedup_index(v1, v1_dir)
    assert tuple(meta["banding"]) == minhash_banding(900) == (4, 2)

    v2_dir = os.path.join(base, "v2")
    meta = update_dedup_index(batch, v1_dir, v2_dir)
    assert meta["n_docs"] == 1100
    assert minhash_banding(1100) == (6, 3)
    assert meta["banding_stale"] is True  # frozen (4,2) != policy

    # the epoch event: full rebuild at the new policy banding
    rebuilt = os.path.join(base, "rebuilt")
    union = v1.unionByName(batch)
    meta = build_dedup_index(union, rebuilt)
    assert tuple(meta["banding"]) == (6, 3)
    assert "banding_stale" not in meta

    # a post-epoch roll is no longer stale
    post = spark.createDataFrame(
        [("z0001", "entirely fresh post epoch document text")],
        "doc_id string, text string",
    )
    meta = update_dedup_index(
        post, rebuilt, os.path.join(base, "post")
    )
    assert meta["banding_stale"] is False

    # the rebuilt index still catches probes: an exact re-fetch and a
    # 2-token-edit near-dup of an indexed doc
    src = pool[0][1]
    words = src.split()
    words[2], words[-3] = "zzalpha", "zzomega"
    probes = spark.createDataFrame(
        [("pexact", src), ("pnear", " ".join(words))],
        "doc_id string, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in probe_dedup_index(spark, probes, rebuilt).collect()
    }
    assert rows["pexact"]["exact_dup_of"] == "d0000"
    assert rows["pnear"]["near_dup_of"] == "d0000"


# ------------------------------------------------------------------ #
# chained fully-gated lifecycle, suite-scale (round 8)                 #
# ------------------------------------------------------------------ #


def test_chained_lifecycle_keep_set_and_roll(spark, tmp_path_factory):
    """Fast twin of ``tools/rehearse.py lifecycle`` (500k evidence in
    BASELINE.md r8): v1 build with EVERY gate on, then a v2
    incremental re-crawl through the same fully-gated job.  The v2
    keep-set must equal the operator-level recomputation (the same
    shared operators, invoked directly -- this pins the job's WIRING:
    probe persist + components checkpoints + gate order), and the
    rolled index must checksum-equal a fresh union build.  Shares the
    checker implementations with the rehearsal tool so the two can
    never drift."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from rehearse import check_index_roll, expected_keep_set

    v1 = str(tmp_path_factory.mktemp("lc_v1"))
    v2 = str(tmp_path_factory.mktemp("lc_v2"))
    gates = [
        "--drop-bottom-quality-pct", "5",
        "--max-dup-span-frac", "0.6",
        "--scrub-pii", "--emit-dedup-index",
    ]
    s1 = _run_job(
        "--synth", "200", "--output", v1, "--buckets", "4", *gates
    )
    assert s1["dup_span_dropped"] >= 0  # gate ran
    s2 = _run_job(
        "--synth", "200", "--output", v2, "--buckets", "4",
        "--incremental", v1, *gates,
    )
    # identical re-crawl: every v1 keeper must exact-hit the index
    assert s2["incr_exact_dup"] >= s1["kept"]
    # the roll surfaces the epoch signal (fresh at this size)
    assert s2["banding_stale"] is False

    want = expected_keep_set(spark, v2, v1, 0.6)
    got = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(v2, "training"))
        .select("doc_id")
        .collect()
    }
    assert got == want, (
        f"job-only={sorted(got - want)[:5]} "
        f"oracle-only={sorted(want - got)[:5]}"
    )
    roll = check_index_roll(
        spark, [v1, v2], v2, str(tmp_path_factory.mktemp("lc_fresh"))
    )
    for sub in ("hashes", "bands", "band_counts"):
        assert roll[f"{sub}_equal"], roll
    assert roll["scrubbed"] is True


# ------------------------------------------------------------------ #
# one index writer, one probe join                                     #
# ------------------------------------------------------------------ #


def test_roll_from_empty_prior_equals_fresh_build(spark, tmp_path_factory):
    """A build is a roll from no prior, so rolling a batch onto an
    index built over ZERO docs must equal a fresh build of the batch
    at the same banding, table by table."""
    from boilerpipe_coffee_spark.operators.dedup import update_dedup_index

    base = str(tmp_path_factory.mktemp("dix_empty_prior"))
    docs = spark.read.parquet(SF + "/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    v0, v1, fresh = (os.path.join(base, d) for d in ("v0", "v1", "fresh"))
    meta0 = build_dedup_index(docs.limit(0), v0)
    assert meta0["n_docs"] == 0
    meta1 = update_dedup_index(docs, v0, v1)
    metaf = build_dedup_index(docs, fresh, banding=tuple(meta0["banding"]))
    assert meta1["n_docs"] == metaf["n_docs"] == docs.count()
    assert meta1["banding"] == metaf["banding"]
    rows = {}
    for sub in ("hashes", "bands", "band_counts"):
        got, want = (
            sorted(
                tuple(r)
                for r in spark.read.parquet(os.path.join(d, sub)).collect()
            )
            for d in (v1, fresh)
        )
        assert got == want, sub
        rows[sub] = len(got)
    # the comparison is not vacuous at this scale
    assert rows["bands"] == 2000 and rows["band_counts"] == 1906, rows


def test_probe_rejects_index_without_doc_id_type(spark, tmp_path_factory):
    """An index whose meta predates ``doc_id_type`` (and band_counts)
    is refused by the probe with the same "rebuild it once" error the
    roll gives, instead of registering its tables by file inference."""
    import pytest

    idx = str(tmp_path_factory.mktemp("dix_old_meta"))
    docs = spark.createDataFrame(
        [("d1", "an indexed document body")], "doc_id string, text string"
    )
    build_dedup_index(docs, idx)
    path = os.path.join(idx, "index_meta.json")
    with open(path) as f:
        meta = json.load(f)
    del meta["doc_id_type"]
    with open(path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="rebuild it once"):
        probe_dedup_index(spark, docs, idx)


def test_one_index_writer_and_one_probe_join():
    """dedup.py writes and registers index tables in one place each,
    and spells the probe's sentinel/keep projection once: a second
    copy of the writer or the probe join fails here."""
    import inspect

    from boilerpipe_coffee_spark.operators import dedup

    src = inspect.getsource(dedup)
    assert src.count("write_bucketed(") == 1
    assert src.count("register_bucketed(") == 1
    assert src.count('F.coalesce("exact_dup_of"') == 1
    assert src.count('.agg(F.min("ex_id")') == 1
