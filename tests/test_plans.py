"""Physical-plan hygiene: projection pushdown reaches the scan, small
sides broadcast, and the production path stays exchange-free.  These
are the 100 TB invariants -- a scan that reads all columns or a
cosine query that plans a shuffled cartesian would regress silently
without them."""

import pytest
from pyspark.sql import functions as F

from boilerpipe_coffee_spark.operators import extract
from boilerpipe_coffee_spark.operators.relational import q3_shipping_priority
from boilerpipe_coffee_spark.operators.similarity import cosine_topk
from boilerpipe_coffee_spark.sources import read_interleaved, synth_interleaved

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_projects_only_needed_columns(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scan"))
    docs = synth_interleaved(spark, 20, seed=1, partitions=2)
    # write with an extra column; the reader must prune it at the scan
    docs.withColumn("junk", F.lit("x" * 100)).write.parquet(out + "/t")
    plan = _plan(extract(read_interleaved(spark, out + "/t")))
    assert "junk" not in plan.split("ReadSchema")[-1]
    assert "doc_id" in plan.split("ReadSchema")[-1]


def test_q3_uses_broadcast_joins(spark):
    plan = _plan(q3_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q5_broadcasts_nation_and_region(spark):
    from boilerpipe_coffee_spark.operators.relational import (
        q5_local_supplier_volume,
    )

    plan = _plan(q5_local_supplier_volume(spark, SF))
    # nation + region arrive via broadcast exchanges, never shuffled
    assert plan.count("BroadcastHashJoin") >= 2
    for tiny in ("nation", "region"):
        scan = [seg for seg in plan.split("FileScan parquet") if tiny in seg]
        assert scan, f"{tiny} scan missing"


def test_semi_anti_plans_are_semi_anti(spark):
    from boilerpipe_coffee_spark.operators.relational import (
        customers_without_big_urgent_orders,
        parts_shipped_early_semi,
    )

    anti = _plan(customers_without_big_urgent_orders(spark, SF))
    assert "LeftAnti" in anti
    semi = _plan(parts_shipped_early_semi(spark, SF))
    assert "LeftSemi" in semi
    # the filters on the build sides must push to their scans
    assert "PushedFilters" in semi


def test_range_join_plans_as_equi_join(spark):
    """The bucketed range join must plan as an equi join on
    (user, bucket) -- a naive time-inequality join would plan as
    BroadcastNestedLoopJoin/cartesian and melt at scale."""
    from boilerpipe_coffee_spark.operators.relational import (
        range_join_nearby_events,
    )

    plan = _plan(range_join_nearby_events(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_asof_join_is_join_free(spark):
    """The as-of operator is a union + window carry-forward: the core
    must contain a Window and NO join at all (the trailing orderBy
    aside, nothing shuffles beyond the one user_id exchange)."""
    from boilerpipe_coffee_spark.operators.relational import (
        asof_last_click_before_purchase,
    )

    plan = _plan(asof_last_click_before_purchase(spark, SF))
    assert "Window" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, join


def test_cosine_topk_broadcasts_queries(spark):
    plan = _plan(cosine_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the big side must not shuffle for the join itself
    assert "CartesianProduct" not in plan


def test_salted_agg_is_two_phase(spark):
    """The skew-safe aggregation must plan as TWO exchange rounds
    (event_type+salt, then event_type) with partial aggregation before
    each -- and no join."""
    from boilerpipe_coffee_spark.operators.relational import (
        events_salted_agg,
    )

    plan = _plan(events_salted_agg(spark, SF))
    import re

    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges >= 2, plan
    assert "partial" in plan.lower()
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan, join


def test_doc_chunks_is_join_free(spark):
    """Chunk expansion happens inside the row (sequence + explode) --
    no join, no extra shuffle beyond the presentation sort."""
    from boilerpipe_coffee_spark.operators.textstats import doc_chunks

    plan = _plan(doc_chunks(spark, SF))
    assert "Generate explode" in plan or "Generate" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, join


def test_bucketed_tables_join_without_exchange(spark, tmp_path_factory):
    """write_bucketed co-locates both sides on the join key at write
    time: the equi-join must plan as a SortMergeJoin over the bucketed
    scans with ZERO Exchange nodes -- the pay-once-at-ingest shuffle
    elimination that matters for repeated joins at 100 TB."""
    from boilerpipe_coffee_spark.sources import write_bucketed

    base = tmp_path_factory.mktemp("bkt")
    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "lang"
    )
    labs = spark.read.parquet(SF + "/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    write_bucketed(docs, "bkt_docs", str(base / "docs"), "doc_id")
    write_bucketed(labs, "bkt_labs", str(base / "labs"), "doc_id")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_docs").join(spark.table("bkt_labs"), "doc_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() > 0
        # and a groupBy on the bucket key needs no exchange either
        agg = spark.table("bkt_docs").groupBy("doc_id").count()
        assert "Exchange" not in _plan(agg), _plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_docs")
        spark.sql("DROP TABLE IF EXISTS bkt_labs")


def test_pipeline_output_tables_join_without_exchange(spark, tmp_path_factory):
    """The pipeline job lands training/ and chunks/ via write_bucketed
    on doc_id; a consumer session re-attaches the layout with
    register_bucketed and must get the training-x-chunks join AND the
    per-doc chunk aggregation with ZERO Exchange nodes -- the whole
    point of paying the partitioning once at pipeline write time.
    This drives the same write path run_pipeline uses (write_bucketed
    -> drop catalog entry -> register_bucketed), standing in for the
    job's own write + a fresh consumer session."""
    from boilerpipe_coffee_spark.operators.pretrain import emit_chunks
    from boilerpipe_coffee_spark.sources import (
        register_bucketed,
        write_bucketed,
    )

    base = tmp_path_factory.mktemp("ppl_out")
    training = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    write_bucketed(
        training, "ppl_training_t", str(base / "training"), "doc_id"
    )
    write_bucketed(
        emit_chunks(spark.read.parquet(str(base / "training"))),
        "ppl_chunks_t", str(base / "chunks"), "doc_id",
    )
    # simulate the consumer session: the in-memory catalog forgets
    spark.sql("DROP TABLE IF EXISTS ppl_training_t")
    spark.sql("DROP TABLE IF EXISTS ppl_chunks_t")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        tr = register_bucketed(
            spark, "ppl_training_t", str(base / "training"), "doc_id"
        )
        ch = register_bucketed(
            spark, "ppl_chunks_t", str(base / "chunks"), "doc_id"
        )
        j = tr.join(ch, "doc_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() > 0
        agg = ch.groupBy("doc_id").count()
        assert "Exchange" not in _plan(agg), _plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS ppl_training_t")
        spark.sql("DROP TABLE IF EXISTS ppl_chunks_t")


def test_simhash_pairs_plan_has_no_presentation_sort_inside(spark):
    """The chunk-bucket pairing must build on UNSORTED signatures:
    r5 regression guard against re-introducing dedup_simhash's
    presentation orderBy inside the join sides (a global range
    exchange per side for nothing).  The only rangepartitioning
    allowed is the final result orderBy."""
    from boilerpipe_coffee_spark.operators.dedup import dedup_simhash_pairs

    df = dedup_simhash_pairs(spark, SF)
    plan = _plan(df)
    import re

    range_parts = re.findall(r"rangepartitioning\(([^)]*)\)", plan)
    assert len(range_parts) == 1, range_parts  # the final orderBy only
    assert "doc_a" in range_parts[0]
    assert "chunk_key" in plan  # join keyed on the combined chunk key


def test_simhash_pairs_plan_runs_signatures_once(spark):
    """SimHash pairs inside each capped chunk bucket, through the same
    generator as MinHash: the Arrow signature pass has ONE consumer,
    so the plan has exactly one MapInPandas and no join keyed on
    chunk_key (a chunk self-join re-runs the pass once per alias)."""
    import re

    from boilerpipe_coffee_spark.operators.dedup import dedup_simhash_pairs

    plan = _plan(dedup_simhash_pairs(spark, SF))
    assert plan.count("MapInPandas") == 1, plan
    assert not re.search(r"Join[^\n]*chunk_key", plan), plan


@pytest.mark.parametrize("n_docs", [100, 20_000])
def test_minhash_candidate_pairs_plan_runs_signatures_once(spark, n_docs):
    """The Arrow signature pass must have ONE consumer at every scale
    (n_docs on both sides of the 16,384-row barrier crossover): a band
    self-join re-runs it once per alias (AQE never reuses the exchange
    across the aliases), so the plan has exactly one MapInPandas and
    no join keyed on band_key."""
    import re

    from boilerpipe_coffee_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_candidate_pairs(docs, n_docs=n_docs))
    assert plan.count("MapInPandas") == 1, plan
    assert not re.search(r"Join[^\n]*band_key", plan), plan


def test_resolve_components_reads_pairs_once(spark):
    """Both edge orientations come from one pass over ``pairs``: a
    counter inside the pairs plan sees every pair row exactly once
    (a union of two selects would run the pairs plan twice)."""
    import pandas as pd

    from boilerpipe_coffee_spark.operators.dedup import resolve_components

    seen = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    raw = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 5, 7], "doc_b": [2, 3, 6, 9]})
    )
    pairs = raw.mapInPandas(tap, raw.schema)
    labels = {r.doc_id: r.cluster_id for r in resolve_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7, 9: 7}
    assert seen.value == 4


def test_pack_concat_split_has_no_single_reducer(spark):
    """The packing prefix sum must be the two-phase distributed form:
    no Exchange SinglePartition anywhere (a naive global orderBy
    window would plan one), cumsum windowed on the pid hash
    partitioning, prefix offsets broadcast."""
    from boilerpipe_coffee_spark.operators.textstats import (
        pack_concat_split,
    )

    plan = _plan(pack_concat_split(spark, SF))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(pid" in plan
    assert "BroadcastExchange" in plan  # the O(partitions) offsets


def test_ivf_assign_is_partial_agg_argmax_not_window(spark):
    """The nearest-centroid assignment must be the map-side
    partial-agg argmax (groupBy + max_by): a Window.partitionBy
    (vec_id) + row_number shape would exchange all k*N scored rows,
    each carrying the full embedding -- shuffle traffic growing with
    the centroid count (r5 verdict finding).  The partial aggregate
    collapses to one row per vec_id before the exchange, so the plan
    has NO Window and a partial_max_by under HashAggregate."""
    from boilerpipe_coffee_spark.operators.similarity import (
        N_IVF_CELLS,
        _assign,
    )

    emb = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    cents = emb.filter(F.col("vec_id") < N_IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv")
    )
    plan = _plan(_assign(emb, cents))
    assert "Window" not in plan, plan
    assert "max_by" in plan
    # the scored side reaches the agg through a broadcast, never a
    # shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    import re

    # exactly ONE data exchange: the N-row groupBy(vec_id) shuffle
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_source_mixture_rates_join_broadcasts(spark):
    """The per-source rate table (#sources rows) must broadcast back
    onto the docs scan -- the sampling decision is scan+filter, never
    a corpus-side shuffle for the join."""
    from boilerpipe_coffee_spark.operators.textstats import (
        source_mixture_sample,
    )

    plan = _plan(source_mixture_sample(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_warm_pipeline_pass_compiles_nothing(spark, tmp_path_factory):
    """A warm session re-running the pipeline's stage composition
    (perfbench corpus_build: run_partitioned, content_features and the
    keep count, near_dup_keep, the bucketed training write) must find
    every generated class in the codegen cache: the second pass runs
    Janino zero times.  At Spark's default cache of 100 entries the
    LRU evicted each of the pass's ~130 classes before its reuse and
    every pass recompiled all of them."""
    import shutil

    from boilerpipe_coffee_spark.operators.pipeline import run_partitioned
    from boilerpipe_coffee_spark.operators.pretrain import (
        content_features,
        near_dup_keep,
    )
    from boilerpipe_coffee_spark.sources import write_bucketed

    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    base = tmp_path_factory.mktemp("warm_pass")
    synth_interleaved(spark, 120, seed=42).write.parquet(str(base / "docs"))
    tables = []

    def one_pass(i):
        out = base / f"pass-{i}"
        run_partitioned(
            spark, spark.read.parquet(str(base / "docs")),
            str(out / "extract"), n_buckets=4,
        )
        extracted = spark.read.parquet(str(out / "extract" / "data"))
        features = content_features(extracted).persist()
        try:
            exact_kept = features.filter(F.col("keep")).count()
            training = near_dup_keep(features, n_docs=exact_kept).filter(
                F.col("keep_final")
            ).drop("is_canonical", "passes_gates", "keep", "keep_final")
            tables.append(f"warm_pass_training_{i}")
            write_bucketed(
                training, tables[-1], str(out / "training"), "doc_id",
                n_buckets=8,
            )
        finally:
            features.unpersist()

    try:
        one_pass(0)
        warm = compiles.getCount()
        assert warm > 0  # the counter is live: this JVM has compiled
        one_pass(1)
        assert compiles.getCount() - warm == 0
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(base, ignore_errors=True)
