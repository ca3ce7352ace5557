"""Relational operator analogues of the extraction filter chain, plus
classic join/agg queries, over the driver's parquet tables.

These back the ``__spark_entry__.queries()`` / ``oracle_sql()``
contract: every Spark DataFrame query here has a DuckDB-SQL twin with
identical column names and values, so the driver's side-by-side check
covers the relational skeleton of every filter operator:

- window lag/lead classification  <- NumWordsRulesClassifier (2.5)
- running-sum cutoff              <- IgnoreBlocksAfterContentFilter
- per-group argmax, ties->later   <- KeepLargestBlockFilter (Q8)
- gap-based segment fusion        <- BlockProximityFusion
- consecutive-equal grouping      <- SimpleBlockFusionProcessor
- row-local predicate labeling    <- TerminatingBlocksFinder
- clause acceptance               <- MinClauseWordsFilter
- sentence explode                <- SplitParagraphBlocksFilter
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .scanspread import read_table


# ------------------------------------------------------------------ #
# TPC-H-style aggregate / join (category checklist 2.7)               #
# ------------------------------------------------------------------ #


def q1_pricing_summary(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                              AS sum_qty,
       round(sum(l_extendedprice), 4)                         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)      AS sum_disc_price,
       round(avg(l_quantity), 4)                              AS avg_qty,
       count(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ------------------------------------------------------------------ #
# window lag/lead classifier  <- NumWordsRulesClassifier              #
# ------------------------------------------------------------------ #


def numwords_rules_classify(spark, sf_dir):
    """The reference's C4.8 tree shape over (prev, curr, next) features
    (Filters.coffee:529-553), applied to documents: word counts stand
    in for numWords, punctuation share for linkDensity.  Boundary NULLs
    fall through branches exactly like the JS undefined placeholders."""
    docs = read_table(spark, sf_dir, "documents")
    nw = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0))
    docs = docs.select(
        "doc_id",
        "source",
        nw.alias("num_words"),
        F.round(
            (F.length("text") - F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", "")))
            / F.length("text"),
            6,
        ).alias("link_density"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    prev_ld = F.lag("link_density").over(w)
    prev_nw = F.lag("num_words").over(w)
    next_nw = F.lead("num_words").over(w)
    decision = (
        F.when(F.col("link_density") > 0.333333, F.lit(False))
        .when(
            prev_ld <= 0.555556,
            F.when(
                (F.col("num_words") <= 16) & (next_nw <= 15) & (prev_nw <= 4),
                F.lit(False),
            ).otherwise(F.lit(True)),
        )
        .when((F.col("num_words") <= 40) & (next_nw <= 17), F.lit(False))
        .otherwise(F.lit(True))
    )
    return docs.select(
        "doc_id", "source", "num_words", "link_density", decision.alias("is_content")
    )


NUMWORDS_RULES_SQL = """
WITH feats AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS num_words,
         round((length(text) - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')))
               / length(text), 6) AS link_density
  FROM documents
), ctx AS (
  SELECT *,
         lag(link_density)  OVER (PARTITION BY source ORDER BY doc_id) AS prev_ld,
         lag(num_words)     OVER (PARTITION BY source ORDER BY doc_id) AS prev_nw,
         lead(num_words)    OVER (PARTITION BY source ORDER BY doc_id) AS next_nw
  FROM feats
)
SELECT doc_id, source, num_words, link_density,
  CASE
    WHEN link_density > 0.333333 THEN FALSE
    WHEN prev_ld <= 0.555556 THEN
      CASE WHEN num_words <= 16 AND next_nw <= 15 AND prev_nw <= 4
           THEN FALSE ELSE TRUE END
    WHEN num_words <= 40 AND next_nw <= 17 THEN FALSE
    ELSE TRUE
  END AS is_content
FROM ctx
"""


# ------------------------------------------------------------------ #
# running-sum cutoff  <- IgnoreBlocksAfterContentFilter               #
# ------------------------------------------------------------------ #


def running_sum_cutoff(spark, sf_dir):
    """Cumulative full-text words per source (doc order); once a
    'terminator' doc (text containing 'comment') is seen with the
    running sum >= 2000, that doc and all later docs flip to
    non-content (Filters.coffee:454-476 shape)."""
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nw = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0))
    terminator = F.col("text").contains("comment")
    base = docs.select(
        "doc_id", "source", nw.alias("num_words"), terminator.alias("is_term")
    )
    cum = F.sum("num_words").over(wcum)
    trigger = F.when(F.col("is_term") & (cum >= 2000), 1).otherwise(0)
    hit = F.max(trigger).over(wcum)
    return base.select(
        "doc_id",
        "source",
        "num_words",
        cum.alias("cum_words"),
        (hit == 0).alias("keep"),
    )


RUNNING_SUM_CUTOFF_SQL = """
WITH base AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS num_words,
         (text LIKE '%comment%') AS is_term
  FROM documents
), cum AS (
  SELECT *,
    (sum(num_words) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_words
  FROM base
)
SELECT doc_id, source, num_words, cum_words,
  max(CASE WHEN is_term AND cum_words >= 2000 THEN 1 ELSE 0 END)
    OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) = 0
    AS keep
FROM cum
"""


# ------------------------------------------------------------------ #
# per-group argmax (ties -> later)  <- KeepLargestBlockFilter Q8      #
# ------------------------------------------------------------------ #


def keep_largest_per_group(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.desc("n_chars"), F.desc("doc_id")
        )
    )
    return (
        docs.select("doc_id", "source", "n_chars", rn.alias("rn"))
        .filter(F.col("rn") == 1)
        .select("source", "doc_id", "n_chars")
        .orderBy("source")
    )


KEEP_LARGEST_SQL = """
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id DESC) AS rn
  FROM documents
) WHERE rn = 1 ORDER BY source
"""


# ------------------------------------------------------------------ #
# gap-based segment fusion  <- BlockProximityFusion                   #
# ------------------------------------------------------------------ #


def sessionize_events(spark, sf_dir):
    """Merge event 'blocks' whose distance <= maxDist into segments:
    a new segment starts when the time gap exceeds 30 minutes, then
    aggregate per segment -- the relational shape of
    BlockProximityFusion's merge + the metrics a fused block carries."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    gap = epoch - F.lag(epoch).over(w)
    new_seg = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    seg = F.sum(new_seg).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("seg_id", seg)
        .groupBy("user_id", "seg_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min(epoch).alias("start_epoch"),
            F.max(epoch).alias("end_epoch"),
        )
        .orderBy("user_id", "seg_id")
    )


def sessionize_native_window(spark, sf_dir):
    """The same sessionization through Spark's NATIVE
    ``F.session_window`` aggregation -- a one-shuffle built-in that
    replaces the lag+running-sum window pair of
    :func:`sessionize_events` and cross-checks the stateful streaming
    variant (streaming/).  Boundary semantics probed empirically:
    session_window merges an event landing EXACTLY gap seconds after
    the previous one (windows [t, t+gap] touch -> merge), identical to
    the lag rule "new segment when gap > 1800" -- so all four
    sessionization implementations share one oracle (SESSIONIZE_SQL).
    seg_id is recovered as the per-user rank of session start."""
    ev = read_table(spark, sf_dir, "events")
    sess = (
        ev.withColumn("tts", F.col("ts").cast("timestamp"))
        .groupBy(
            "user_id", F.session_window("tts", "30 minutes").alias("w")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min(F.unix_timestamp("tts")).alias("start_epoch"),
            F.max(F.unix_timestamp("tts")).alias("end_epoch"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("start_epoch")
    return (
        sess.withColumn(
            "seg_id", F.row_number().over(w).cast("bigint")
        )
        .select(
            "user_id", "seg_id", "n_events", "sum_value",
            "start_epoch", "end_epoch",
        )
        .orderBy("user_id", "seg_id")
    )


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS e,
         CASE WHEN floor(epoch(ts))::BIGINT
                   - lag(floor(epoch(ts))::BIGINT) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS new_seg
  FROM events
), s AS (
  SELECT *, (sum(new_seg) OVER (PARTITION BY user_id ORDER BY e, event_id
                                ROWS UNBOUNDED PRECEDING))::BIGINT AS seg_id
  FROM g
)
SELECT user_id, seg_id, count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       min(e) AS start_epoch, max(e) AS end_epoch
FROM s GROUP BY user_id, seg_id ORDER BY user_id, seg_id
"""


# ------------------------------------------------------------------ #
# consecutive-equal grouping  <- SimpleBlockFusionProcessor           #
# ------------------------------------------------------------------ #


def fuse_adjacent_equal(spark, sf_dir):
    """Group consecutive docs (per source, doc_id order) with equal
    length-bucket and aggregate, mirroring equal-density fusion."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = (F.col("n_chars") / 100).cast("int")
    w = Window.partitionBy("source").orderBy("doc_id")
    changed = F.when(
        F.lag(bucket).over(w).isNull() | (F.lag(bucket).over(w) != bucket), 1
    ).otherwise(0)
    seg = F.sum(changed).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("bucket", bucket)
        .withColumn("seg_id", seg)
        .groupBy("source", "seg_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source", "seg_id")
    )


FUSE_ADJACENT_SQL = """
WITH b AS (
  SELECT source, doc_id, n_chars, (n_chars // 100)::INT AS bucket
  FROM documents
), c AS (
  SELECT *, CASE WHEN lag(bucket) OVER w IS NULL
                   OR lag(bucket) OVER w <> bucket THEN 1 ELSE 0 END AS changed
  FROM b WINDOW w AS (PARTITION BY source ORDER BY doc_id)
), s AS (
  SELECT *, (sum(changed) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING))::BIGINT AS seg_id
  FROM c
)
SELECT source, seg_id, count(*) AS n_docs, min(doc_id) AS first_doc,
       max(doc_id) AS last_doc, sum(n_chars)::BIGINT AS sum_chars
FROM s GROUP BY source, seg_id ORDER BY source, seg_id
"""


# ------------------------------------------------------------------ #
# row-local predicates  <- TerminatingBlocksFinder                    #
# ------------------------------------------------------------------ #


def terminating_markers(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    nw = F.size(F.regexp_extract_all(lower, F.lit("[a-z0-9]+"), 0))
    marker = (
        lower.startswith("comments")
        | lower.contains("add your comment")
        | lower.contains("have your say")
        | lower.rlike("^[^a-z0-9_]*[0-9]+ comments")
    )
    return docs.select(
        "doc_id",
        (marker & (nw < 50)).alias("is_terminator"),
        nw.alias("num_words"),
    ).orderBy("doc_id")


TERMINATING_SQL = """
SELECT doc_id,
  ((lower(text) LIKE 'comments%'
    OR lower(text) LIKE '%add your comment%'
    OR lower(text) LIKE '%have your say%'
    OR regexp_matches(lower(text), '^[^a-z0-9_]*[0-9]+ comments'))
   AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) < 50)
    AS is_terminator,
  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS num_words
FROM documents ORDER BY doc_id
"""


# ------------------------------------------------------------------ #
# clause acceptance  <- MinClauseWordsFilter                          #
# ------------------------------------------------------------------ #


def min_clause_docs(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    clauses = F.split(F.concat(F.col("text"), F.lit(" ")), "[,.:;!?]+\\s+")
    has_clause = F.exists(
        clauses, lambda c: F.size(F.split(F.trim(c), "\\s+")) >= 5
    )
    return docs.select(
        "doc_id", F.coalesce(has_clause, F.lit(False)).alias("has_clause")
    ).orderBy("doc_id")


MIN_CLAUSE_SQL = """
SELECT doc_id,
  coalesce(len(list_filter(
    regexp_split_to_array(text || ' ', '[,.:;!?]+\\s+'),
    c -> len(regexp_split_to_array(trim(c), '\\s+')) >= 5)) > 0, FALSE)
  AS has_clause
FROM documents ORDER BY doc_id
"""


# ------------------------------------------------------------------ #
# sentence explode  <- SplitParagraphBlocksFilter                     #
# ------------------------------------------------------------------ #


def split_sentences(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    sentences = F.split(F.col("text"), "\\.\\s+")
    out = docs.select(
        "doc_id", F.posexplode(sentences).alias("sentence_idx", "sentence")
    ).filter(F.length(F.trim(F.col("sentence"))) > 0)
    return out.select(
        "doc_id",
        "sentence_idx",
        F.length("sentence").alias("sentence_len"),
    ).orderBy("doc_id", "sentence_idx")


SPLIT_SENTENCES_SQL = """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(text, '\\.\\s+') AS arr FROM documents
), ix AS (
  SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i FROM d
)
SELECT doc_id, (i - 1)::INT AS sentence_idx, length(arr[i])::INT AS sentence_len
FROM ix
WHERE length(trim(arr[i])) > 0
ORDER BY doc_id, sentence_idx
"""


def udtf_sentence_explode(spark, sf_dir):
    """UDTF surface (SURVEY 2.7): the sentence split re-expressed as a
    Python UDTF consumed through a SQL LATERAL join -- same semantics
    as :func:`split_sentences` (posexplode keeps the pre-filter index;
    trim = spaces only, matching Spark/DuckDB ``trim``), same oracle.
    Row-at-a-time Python, so the built-in posexplode variant is the
    production path; this exists to prove the table-function surface."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence_len int")
    class Sentences:
        def eval(self, text):
            if text is None:
                return
            # Java regex \s (ASCII) to match F.split("\\.\\s+")
            parts = _re.split("\\.[ \\t\\n\\x0b\\f\\r]+", text)
            for i, p in enumerate(parts):
                if p.strip(" "):
                    yield i, len(p)

    spark.udtf.register("bpc_sentences", Sentences)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("bpc_docs")
    return spark.sql(
        "SELECT doc_id, s.sentence_idx, s.sentence_len "
        "FROM bpc_docs, LATERAL bpc_sentences(text) s "
        "ORDER BY doc_id, sentence_idx"
    )


def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: tight filter + single agg -- the predicate
    pushdown showcase (filters reach the parquet scan)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def events_rollup(spark, sf_dir):
    """ROLLUP aggregation (grouping-sets family, SURVEY 2.7 breadth):
    event counts and value sums by (event_type, day) with subtotals."""
    ev = read_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        ev.select("event_type", day.alias("day"), "value")
        .rollup("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type", "day")
    )


EVENTS_ROLLUP_SQL = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events
GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
ORDER BY event_type, day
"""


# ------------------------------------------------------------------ #
# relational breadth: multi-way join, semi/anti, set ops, cube        #
# ------------------------------------------------------------------ #


def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join chain region -> nation ->
    (customer x supplier) -> orders -> lineitem, revenue per nation for
    intra-nation commerce.  Join strategy for 100 TB: lineitem/orders/
    customer shuffle on their keys (all big at scale), nation and the
    filtered region BROADCAST (25 / 1 rows at any SF) -- asserted in
    tests/test_plans.py."""
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    sup = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            sup,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def customers_without_big_urgent_orders(spark, sf_dir):
    """ANTI join: customers with no urgent high-value order, rolled up
    per market segment.  The anti join shuffles both sides on the key
    (no broadcast -- both sides are corpus-sized at scale) and is the
    relational 'quarantine the unmatched' primitive."""
    cust = read_table(spark, sf_dir, "customer")
    big = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


ANTI_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_customers,
       round(sum(c_acctbal), 4) AS sum_acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 150000
)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def parts_shipped_early_semi(spark, sf_dir):
    """SEMI join: parts with at least one early shipment, per brand.
    left_semi keeps the probe side narrow (no payload columns from
    lineitem cross the shuffle)."""
    part = read_table(spark, sf_dir, "part")
    early = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1995-09-01")
    )
    return (
        part.join(early, part.p_partkey == early.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("p_brand")
    )


SEMI_JOIN_SQL = """
SELECT p_brand, count(*) AS n_parts,
       round(avg(p_retailprice), 4) AS avg_price
FROM part p
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_partkey = p.p_partkey
    AND l.l_shipdate < TIMESTAMP '1995-09-01'
)
GROUP BY p_brand ORDER BY p_brand
"""


def brand_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT over brand sets: large-size brands that were
    ordered early vs never.  Set ops dedupe via a hash aggregate on the
    full row -- same shuffle shape as groupBy, no row explosion."""
    part = read_table(spark, sf_dir, "part")
    early = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1995-03-01")
    )
    large = part.filter(F.col("p_size") > 40).select("p_brand")
    ordered = part.join(
        early, part.p_partkey == early.l_partkey, "left_semi"
    ).select("p_brand")
    both = large.intersect(ordered).select(
        F.lit("large_and_early").alias("tag"), "p_brand"
    )
    only = large.subtract(ordered).select(
        F.lit("large_never_early").alias("tag"), "p_brand"
    )
    return both.unionByName(only).orderBy("tag", "p_brand")


SET_OPS_SQL = """
WITH large AS (
  SELECT p_brand FROM part WHERE p_size > 40
), ordered AS (
  SELECT p_brand FROM part p
  WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_partkey = p.p_partkey
      AND l.l_shipdate < TIMESTAMP '1995-03-01')
)
SELECT 'large_and_early' AS tag, p_brand
FROM (SELECT p_brand FROM large INTERSECT SELECT p_brand FROM ordered)
UNION ALL
SELECT 'large_never_early' AS tag, p_brand
FROM (SELECT p_brand FROM large EXCEPT SELECT p_brand FROM ordered)
ORDER BY tag, p_brand
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + join -- the form Catalyst
    produces and the only form that scales (the correlated version
    re-scans lineitem per row)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    brand = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.8).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (
    SELECT 0.8 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey)
"""


def events_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (p50/p95 of value).
    Scale note: exact percentile needs the group's values together --
    fine for bounded groups; unbounded cardinality would switch to
    approx_percentile (t-digest, mergeable map-side)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


def distinct_users_two_phase(spark, sf_dir):
    """Exact COUNT(DISTINCT) via the shuffle-safe two-phase form:
    dedupe (event_type, user_id) pairs first (map-side combine applies),
    then count per type.  This is the salting-family rewrite for
    skewed distinct aggregation -- one hot event_type no longer funnels
    every raw event through a single reducer, only its distinct keys."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("event_type")
    )


DISTINCT_TWO_PHASE_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def asof_last_click_before_purchase(spark, sf_dir):
    """AS-OF JOIN: for every purchase, the user's most recent click at
    or before it.  Spark has no asof-join operator; the scale-correct
    expression is a UNION + window carry-forward -- one shuffle on
    user_id, NO join, no per-row probe: interleave both streams in
    event-time order and carry the last click forward with
    last(..., ignorenulls).  Ties (click and purchase in the same
    second) resolve click-first, matching ASOF's <= semantics; clicks
    are pre-deduped to max(event_id) per (user, second) so the oracle's
    tie-break is well-defined.  The DuckDB oracle uses its NATIVE
    ASOF JOIN, so the two formulations verify each other."""
    ev = read_table(spark, sf_dir, "events")
    e = F.unix_timestamp("ts")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", e.alias("e"), "event_id")
        .groupBy("user_id", "e")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id", "e", "click_id",
            F.lit(None).cast("long").alias("purchase_id"),
            F.lit(True).alias("is_click"),
        )
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        e.alias("e"),
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
        F.lit(False).alias("is_click"),
    )
    merged = clicks.unionByName(purch)
    w = (
        Window.partitionBy("user_id")
        .orderBy("e", F.desc("is_click"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried_id = F.last(
        F.when(F.col("is_click"), F.col("click_id")), ignorenulls=True
    ).over(w)
    carried_e = F.last(
        F.when(F.col("is_click"), F.col("e")), ignorenulls=True
    ).over(w)
    return (
        merged.select(
            "user_id", "e", "purchase_id", "is_click",
            carried_id.alias("last_click_id"),
            carried_e.alias("click_e"),
        )
        .filter(~F.col("is_click") & F.col("last_click_id").isNotNull())
        .select(
            "user_id",
            "purchase_id",
            "last_click_id",
            (F.col("e") - F.col("click_e")).alias("gap_sec"),
        )
        .orderBy("purchase_id")
    )


ASOF_SQL = """
WITH clicks AS (
  SELECT user_id, floor(epoch(ts))::BIGINT AS e, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), purch AS (
  SELECT user_id, floor(epoch(ts))::BIGINT AS e, event_id
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id AS purchase_id, c.click_id AS last_click_id,
       (p.e - c.e)::BIGINT AS gap_sec
FROM purch p ASOF JOIN clicks c
  ON p.user_id = c.user_id AND p.e >= c.e
ORDER BY purchase_id
"""


def range_join_nearby_events(spark, sf_dir, window_sec: int = 60):
    """RANGE JOIN: for every event, how many other events by the same
    user fall within +-60 s.  Spark plans a naive time-inequality self
    join as BroadcastNestedLoop/cartesian, so the scale-correct form is
    the BUCKETED range join: index each event in its time bucket
    (width = range), probe the 3 adjacent buckets, and filter the exact
    predicate columnar.  Each qualifying pair is found exactly once
    (the index side's bucket is unique), the shuffle is keyed on
    uniform (user, bucket), and nothing is quadratic.  The DuckDB
    oracle is the plain inequality self-join."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("e")
    )
    b = F.floor(F.col("e") / window_sec)
    probe = ev.select(
        "user_id",
        "event_id",
        "e",
        F.explode(F.array(b - 1, b, b + 1)).alias("pb"),
    )
    index = ev.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("other_id"),
        F.col("e").alias("e2"),
        b.alias("b2"),
    )
    pairs = (
        probe.join(
            index,
            (F.col("user_id") == F.col("u2"))
            & (F.col("pb") == F.col("b2"))
            & (F.col("event_id") != F.col("other_id"))
            & (F.abs(F.col("e") - F.col("e2")) <= window_sec),
        )
        .groupBy("event_id")
        .agg(F.count("*").alias("n_nearby"))
    )
    return (
        ev.join(pairs, "event_id", "left")
        .select(
            "event_id",
            F.coalesce("n_nearby", F.lit(0)).alias("n_nearby"),
        )
        .orderBy("event_id")
    )


RANGE_JOIN_SQL = """
WITH ev AS (
  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS e FROM events
), pairs AS (
  SELECT a.event_id, count(*) AS n_nearby
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id AND a.event_id <> b.event_id
   AND abs(a.e - b.e) <= 60
  GROUP BY 1
)
SELECT ev.event_id, coalesce(p.n_nearby, 0)::BIGINT AS n_nearby
FROM ev LEFT JOIN pairs p USING (event_id) ORDER BY event_id
"""


KMV_K = 64  # shared with the oracle SQL below; non-default k would
# silently diverge from oracle_sql(), so the parameter is fixed


def approx_distinct_kmv(spark, sf_dir, k: int = KMV_K):
    """APPROXIMATE distinct count per group via a KMV (bottom-k)
    sketch: estimate = (k-1) * H / h_k where h_k is the k-th smallest
    md5-derived hash of the key and H the hash range.  Unlike HLL the
    whole computation is deterministic integer/IEEE arithmetic, so the
    DuckDB oracle reproduces it bit-for-bit -- an approx aggregate that
    still passes the exact value-parity gate.  Groups with fewer than k
    distinct keys fall back to the exact count (estimate == exact).
    The sketch is mergeable (union of bottom-k sets); at 10^12 rows a
    typed partial aggregator replaces the distinct+window shown here.
    Exact count emitted alongside so the sketch error is visible."""
    from ..functions import h64

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    h = h64(F.col("user_id").cast("string"))
    d = ev.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = d.withColumn("rn", F.row_number().over(w))
    kth = ranked.filter(F.col("rn") == k).select(
        "event_type", F.col("h").alias("hk")
    )
    exact = d.groupBy("event_type").agg(F.count("*").alias("n_distinct"))
    hrange = float(1 << 60)
    est = F.when(
        F.col("hk").isNull(), F.col("n_distinct").cast("double")
    ).otherwise(F.round((k - 1) * hrange / F.col("hk"), 4))
    return (
        exact.join(kth, "event_type", "left")
        .select("event_type", "n_distinct", est.alias("est_distinct"))
        .orderBy("event_type")
    )


def _approx_kmv_sql() -> str:
    from ..functions import h64_duck

    return f"""
WITH d AS (
  SELECT DISTINCT event_type,
         {h64_duck('user_id::VARCHAR')} AS h
  FROM events WHERE user_id IS NOT NULL
), r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d
), c AS (
  SELECT event_type, count(*) AS n_distinct FROM d GROUP BY 1
), kth AS (
  SELECT event_type, h AS hk FROM r WHERE rn = {KMV_K}
)
SELECT c.event_type, c.n_distinct,
       round(CASE WHEN kth.hk IS NULL THEN c.n_distinct::DOUBLE
                  ELSE {KMV_K - 1}.0 * {float(1 << 60)} / kth.hk END, 4)
         AS est_distinct
FROM c LEFT JOIN kth USING (event_type)
ORDER BY event_type
"""


APPROX_KMV_SQL = _approx_kmv_sql()


def orders_cube(spark, sf_dir):
    """CUBE over (status, priority): all four grouping sets in one
    pass -- Spark expands to a single expand+aggregate, no re-scan per
    grouping set."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


ORDERS_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus, o_orderpriority
"""


# ------------------------------------------------------------------ #
# SQL surface: ONE ANSI text, two engines                             #
# ------------------------------------------------------------------ #

# runs VERBATIM on both Spark SQL and DuckDB -- the literal same string
# is the Spark query and the oracle, demonstrating the spark.sql()
# surface end to end (dialect-neutral subset: date literals, BETWEEN,
# round/sum/avg/count, CASE, GROUP/ORDER BY).
SHARED_ANSI_SQL = """
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       round(avg(l_quantity), 4) AS avg_qty,
       sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS n_discounted
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01'
  AND l_shipdate < DATE '1997-01-01'
  AND l_quantity BETWEEN 5 AND 45
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def shared_sql_surface(spark, sf_dir):
    """spark.sql() surface parity: registers the table as a temp view
    and executes SHARED_ANSI_SQL verbatim -- the DuckDB oracle is the
    IDENTICAL string, so this proves the SQL dialect subset, not just
    the DataFrame API, agrees across engines."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    out = spark.sql(SHARED_ANSI_SQL)
    # Spark sum(int CASE) yields bigint like DuckDB after the driver's
    # pandas fetch; cast defensively for engines that widen
    return out.withColumn(
        "n_discounted", F.col("n_discounted").cast("long")
    )


SHARED_SQL_ORACLE = SHARED_ANSI_SQL.replace(
    "sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)",
    "sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)::BIGINT",
)


def events_salted_agg(spark, sf_dir, n_salts: int = 16):
    """Two-phase salted aggregation -- the hot-key skew pattern at
    100 TB: a single dominant group (one event_type carrying most of
    the corpus) would otherwise funnel into ONE reducer.  Phase 1
    splits every group into ``n_salts`` sub-groups keyed by a hash of
    the row id (map-side partial aggregation still applies, so the
    first shuffle stays combiner-sized), phase 2 merges the partials --
    the second shuffle moves at most n_groups * n_salts rows regardless
    of corpus size.  All aggregates here are reassociable, so results
    are identical to the direct groupBy; the oracle IS the direct
    form."""
    ev = read_table(spark, sf_dir, "events")
    salted = ev.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts))
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum("value").alias("psum"),
        F.max("value").alias("pmax"),
        F.min("value").alias("pmin"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("psum"), 2).alias("total_value"),
            F.round(F.max("pmax"), 4).alias("max_value"),
            F.round(F.min("pmin"), 4).alias("min_value"),
        )
        .orderBy("event_type")
    )


SALTED_AGG_SQL = """
SELECT event_type, count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value,
       round(max(value), 4) AS max_value,
       round(min(value), 4) AS min_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_json_props(spark, sf_dir):
    """Semi-structured property extraction without a UDF:
    ``get_json_object`` is a JVM expression, so the JSON parse stays
    inside whole-stage codegen (no python in the hot path)."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.round(F.avg("k"), 4).alias("k_avg"),
            F.sum(F.when(F.col("k") >= 50, 1).otherwise(0)).alias("k_high"),
        )
        .orderBy("event_type")
    )


JSON_PROPS_SQL = """
WITH p AS (
  SELECT event_type, json_extract_string(props, '$.k')::INT AS k
  FROM events
)
SELECT event_type, count(*)::BIGINT AS n_events,
       sum(k)::BIGINT AS k_sum, round(avg(k), 4) AS k_avg,
       sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END)::BIGINT AS k_high
FROM p GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "shared_sql_surface": shared_sql_surface,
    "q1_pricing_summary": q1_pricing_summary,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "customers_without_big_urgent_orders": customers_without_big_urgent_orders,
    "parts_shipped_early_semi": parts_shipped_early_semi,
    "brand_set_ops": brand_set_ops,
    "orders_cube": orders_cube,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "events_percentiles": events_percentiles,
    "distinct_users_two_phase": distinct_users_two_phase,
    "approx_distinct_kmv": approx_distinct_kmv,
    "asof_last_click_before_purchase": asof_last_click_before_purchase,
    "range_join_nearby_events": range_join_nearby_events,
    "q6_forecast_revenue": q6_forecast_revenue,
    "events_rollup": events_rollup,
    "q3_shipping_priority": q3_shipping_priority,
    "numwords_rules_classify": numwords_rules_classify,
    "running_sum_cutoff": running_sum_cutoff,
    "keep_largest_per_group": keep_largest_per_group,
    "sessionize_events": sessionize_events,
    "sessionize_native_window": sessionize_native_window,
    "fuse_adjacent_equal": fuse_adjacent_equal,
    "terminating_markers": terminating_markers,
    "min_clause_docs": min_clause_docs,
    "split_sentences": split_sentences,
    "udtf_sentence_explode": udtf_sentence_explode,
    "events_salted_agg": events_salted_agg,
    "events_json_props": events_json_props,
}

ORACLES = {
    "shared_sql_surface": SHARED_SQL_ORACLE,
    "q1_pricing_summary": Q1_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "customers_without_big_urgent_orders": ANTI_JOIN_SQL,
    "parts_shipped_early_semi": SEMI_JOIN_SQL,
    "brand_set_ops": SET_OPS_SQL,
    "orders_cube": ORDERS_CUBE_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "events_percentiles": PERCENTILES_SQL,
    "distinct_users_two_phase": DISTINCT_TWO_PHASE_SQL,
    "approx_distinct_kmv": APPROX_KMV_SQL,
    "asof_last_click_before_purchase": ASOF_SQL,
    "range_join_nearby_events": RANGE_JOIN_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "events_rollup": EVENTS_ROLLUP_SQL,
    "q3_shipping_priority": Q3_SQL,
    "numwords_rules_classify": NUMWORDS_RULES_SQL,
    "running_sum_cutoff": RUNNING_SUM_CUTOFF_SQL,
    "keep_largest_per_group": KEEP_LARGEST_SQL,
    "sessionize_events": SESSIONIZE_SQL,
    "sessionize_native_window": SESSIONIZE_SQL,
    "fuse_adjacent_equal": FUSE_ADJACENT_SQL,
    "terminating_markers": TERMINATING_SQL,
    "min_clause_docs": MIN_CLAUSE_SQL,
    "split_sentences": SPLIT_SENTENCES_SQL,
    "udtf_sentence_explode": SPLIT_SENTENCES_SQL,
    "events_salted_agg": SALTED_AGG_SQL,
    "events_json_props": JSON_PROPS_SQL,
}
