"""Columnar (pure-``Column``) implementations of the stateless filters.

Each function is a DataFrame -> DataFrame operator over the exploded
blocks table (operators.extract.BLOCKS_SCHEMA).  They stay entirely
inside whole-stage codegen -- no Python in the hot path -- and share a
single window spec, so Catalyst plans ONE exchange on doc_id reused by
every stage.

Only the stages a staged chain uses live here; the order-dependent
filters run in the fusion tail (operators.fusion) on the core filters.

Boundary semantics (quirk Q2): the reference's prev/next at document
edges are undefined-featured placeholders whose comparisons are all
false.  Spark ``lag``/``lead`` NULLs give the same result (NULL
predicate -> not true); a ``!=`` comparison would need the NULL spelled
out, because JS evaluates it true for undefined.  Media rows ride along
with NULL features (sorted after all blocks) and are never
reclassified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.jsquirks import JS_WS

# one window spec shared by every stage -> one shuffle.  Built lazily:
# WindowSpec construction needs an active SparkSession.
def _w():
    return Window.partitionBy("doc_id").orderBy("is_media", "block_offset")


def _w_cum():
    return _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)

_JS_TRIM = f"^[{JS_WS}]+|[{JS_WS}]+$"


def _keep_media(df: DataFrame, col: str, new_value) -> DataFrame:
    """Apply a classification only to block rows."""
    return df.withColumn(
        col, F.when(F.col("is_media") | F.col("error").isNotNull(), F.col(col)).otherwise(new_value)
    )


def mark_everything_content(df: DataFrame) -> DataFrame:
    """MarkEverythingContentFilter (Filters.coffee:70-74)."""
    return _keep_media(df, "is_content", F.lit(True))


def terminating_blocks_finder(df: DataFrame) -> DataFrame:
    """TerminatingBlocksFinder (Filters.coffee:482-525) as row-local
    predicates; sets the end_of_text flag (= the EndOfText label)."""
    stripped = F.regexp_replace(F.col("text"), _JS_TRIM, "")
    lower = F.lower(stripped)
    start_matches = (
        lower.startswith("comments")
        | lower.startswith(" reuters")
        | lower.startswith("please rate this")
        | lower.startswith("post a comment")
    )
    in_matches = (
        lower.contains("what you think...")
        | lower.contains("add your comment")
        | lower.contains("add comment")
        | lower.contains("reader views")
        | lower.contains("have your say")
        | lower.contains("reader comments")
        | lower.contains("rtta artikeln")
    )
    equal = lower == "thanks for your comments - this feedback is now closed"
    # /^\W*\d+/ then rest startswith " comments" | " users responded in"
    numbers = lower.rlike(
        "^[^a-zA-Z0-9_]*[0-9]+ comments"
    ) | lower.rlike("^[^a-zA-Z0-9_]*[0-9]+ users responded in")
    found = (
        (F.col("num_words") < 15)
        & (F.length(stripped) >= 8)
        & (start_matches | in_matches | equal | numbers)
    )
    return _keep_media(df, "end_of_text", F.coalesce(found, F.lit(False)))


def num_words_rules_classifier(df: DataFrame) -> DataFrame:
    """NumWordsRulesClassifier (Filters.coffee:529-553): C4.8 tree over
    (prev, curr, next) via lag/lead.  NULL comparisons at edges fall
    through exactly like the JS undefined comparisons (Q2)."""
    prev_ld = F.lag("link_density").over(_w())
    prev_nw = F.lag("num_words").over(_w())
    next_nw = F.lead("num_words").over(_w())
    curr_ld = F.col("link_density")
    curr_nw = F.col("num_words")

    decision = (
        F.when(curr_ld > 0.333333, F.lit(False))
        .when(
            prev_ld <= 0.555556,
            F.when(
                (curr_nw <= 16) & (next_nw <= 15) & (prev_nw <= 4), F.lit(False)
            ).otherwise(F.lit(True)),
        )
        .when((curr_nw <= 40) & (next_nw <= 17), F.lit(False))
        .otherwise(F.lit(True))
    )
    return _keep_media(df, "is_content", decision)


def ignore_blocks_after_content(df: DataFrame, min_words: int = 60) -> DataFrame:
    """IgnoreBlocksAfterContentFilter (Filters.coffee:454-476): running
    sum of numFullTextWords over content blocks; from the first
    EndOfText block where the sum has reached the threshold, everything
    (including that block) flips to non-content.  Pure window algebra,
    no Python."""
    full_text_words = F.when(
        F.col("is_content") & (F.col("text_density") >= 9), F.col("num_words")
    ).otherwise(F.lit(0))
    cum = F.sum(full_text_words).over(_w_cum())
    trigger = F.when(
        F.col("end_of_text") & (cum >= min_words), F.lit(1)
    ).otherwise(F.lit(0))
    hit = F.max(trigger).over(_w_cum())
    return _keep_media(
        df,
        "is_content",
        F.when(hit == 1, F.lit(False)).otherwise(F.col("is_content")),
    )
