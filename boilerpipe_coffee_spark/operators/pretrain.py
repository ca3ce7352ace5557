"""Shared pretraining feature/gate stage.

ONE implementation of the extract-output -> training-candidate
transform, consumed by both the driver-contract query
(``__spark_entry__.pretrain_pipeline``) and the deployable job
(``jobs/run_pipeline.py``) so the two can never drift: content text
reassembly from surviving spans, the per-document counts of the one
text kernel (:func:`.textstats._quality_counts_udf`: token count,
duplicate-bigram fraction for the repetition gate, quality score),
md5 content hash, exact-dedup canonical flag, and the combined keep
decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import textstats as ts


def content_features(
    extracted: DataFrame,
    min_tokens: int = 30,
    max_dup_bigram: float = 0.9,
) -> DataFrame:
    """(doc_id, title, spans, error) -> featured rows.

    Output columns: doc_id, title, text, n_media, n_tokens,
    dup_bigram_frac, quality, content_hash, is_canonical (first doc_id
    per content hash), passes_gates (length + repetition), keep (both).
    Quarantined and empty documents are dropped.  n_tokens,
    dup_bigram_frac and quality come from ONE call per document of the
    per-document kernel (:func:`.textstats.with_quality_counts`), with
    every float operation and rounding JVM-side; the rest is columnar.
    The only shuffle is the content-hash window."""
    content = (
        extracted.filter(F.col("error").isNull())
        .select(
            "doc_id",
            "title",
            F.concat_ws(
                "\n",
                F.transform(
                    F.filter(F.col("spans"), lambda s: s.kind == F.lit("text")),
                    lambda s: s.text,
                ),
            ).alias("text"),
            F.size(
                F.filter(F.col("spans"), lambda s: s.kind != F.lit("text"))
            ).alias("n_media"),
        )
        .filter(F.length("text") > 0)
    )
    # the one per-document kernel, bound once: every derived column
    # reads the struct, so the plan holds one Python-eval node
    qc = F.col("_qc")
    dup_bigram = F.round(
        (qc["n_bi"] - qc["n_bi_uniq"]) / F.greatest(qc["n_bi"], F.lit(1)), 4
    )
    featured = ts.with_quality_counts(content).select(
        "doc_id",
        "title",
        "text",
        "n_media",
        qc["n_tok"].alias("n_tokens"),
        dup_bigram.alias("dup_bigram_frac"),
        ts.quality_expr(qc)["quality"],
        F.md5("text").alias("content_hash"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    gates = (F.col("n_tokens") >= min_tokens) & (
        F.col("dup_bigram_frac") <= max_dup_bigram
    )
    return (
        featured.withColumn(
            "is_canonical", F.row_number().over(w) == 1
        )
        .withColumn("passes_gates", gates)
        .withColumn("keep", F.col("is_canonical") & F.col("passes_gates"))
    )


def quality_gate(
    features: DataFrame, drop_bottom_pct: float
) -> tuple[DataFrame, float]:
    """Data-driven quality gate: drop the bottom ``drop_bottom_pct``
    percent of documents by the ``quality`` column
    :func:`content_features` computes, with the threshold picked by
    the distributed histogram sketch
    (:func:`..operators.textstats.quality_bin_threshold` -- a
    <=1000-key shuffle at any corpus size, no global sort).

    Input: :func:`content_features` output; it must carry ``quality``.
    The gate runs no kernel, so over a persisted input nothing above
    the cache re-tokenizes.  Returns (gated frame, picked threshold):
    adds ``passes_quality`` and folds it into ``passes_gates`` /
    ``keep`` so downstream stages (exact keep-set, near-dup) see one
    combined gate.  Ties AT the threshold bin are kept, so at most the
    requested fraction is dropped (deterministic -- no row-order
    dependence)."""
    thr_bin = ts.quality_bin_threshold(features, drop_bottom_pct / 100.0)
    passes = ts.quality_bin("quality") >= F.lit(thr_bin)
    gated = (
        features.withColumn("passes_quality", passes)
        .withColumn(
            "passes_gates", F.col("passes_gates") & F.col("passes_quality")
        )
        .withColumn("keep", F.col("is_canonical") & F.col("passes_gates"))
    )
    return gated, thr_bin / float(ts.N_QBINS)


def emit_chunks(training: DataFrame, context_len: int | None = None) -> DataFrame:
    """Materialize context-window training chunks from kept documents:
    one row per ``context_len``-token window with the actual token
    slice re-joined as ``chunk_text`` (whitespace-normalized -- chunks
    are tokenizer input, not display text).  Join-free: ``sequence`` +
    ``explode`` inside the row, linear in output size; the chunking
    arithmetic is shared with the ``doc_chunks`` driver query."""
    from ..functions import TOKENS

    cl = context_len or ts.CONTEXT_LEN
    d = (
        training.select("doc_id", F.expr(TOKENS).alias("toks"))
        .withColumn("n_tokens", F.size("toks"))
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "n_chunks",
            F.ceil(F.col("n_tokens") / F.lit(float(cl))).cast("bigint"),
        )
    )
    start = (F.col("chunk_idx") * cl + 1).cast("int")
    return (
        d.select(
            "doc_id",
            "toks",
            "n_tokens",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.least(
                F.lit(cl).cast("bigint"),
                F.col("n_tokens") - F.col("chunk_idx") * cl,
            ).alias("chunk_tokens"),
            F.concat_ws(" ", F.slice("toks", start, cl)).alias("chunk_text"),
        )
    )


def near_dup_keep(
    features: DataFrame,
    bucket_cap: int = 64,
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """The NEAR-dup stage of the production dedup hierarchy, run on
    the survivors of the exact pass: exact dedup (hash groupBy,
    linear, handles floods) -> MinHash-LSH candidate pairs (banded,
    bucket-capped, linear) -> connected components (edge-sized
    min-label propagation, star fallback) -> one keeper per cluster.

    Input: :func:`content_features` output.  Only ``keep`` rows
    (exact-canonical AND gate-passing) enter the LSH stage -- running
    near-dup on the exact-deduped corpus is both the cheaper and the
    semantically right order (exact copies are already collapsed, so
    clusters are genuine near-duplicates).  Output adds:

    - ``cluster_id``: near-dup component id (min doc_id; singleton =
      own id; null for rows that never entered the stage),
    - ``keep_final``: ``keep`` AND this doc is its cluster's keeper
      (min doc_id -- deterministic).
    """
    from .dedup import minhash_candidate_pairs, resolve_components

    # n_docs (the survivor count the job already computed for its
    # summary) resolves the adaptive banding without an extra pass;
    # None falls back to a count inside minhash_candidate_pairs
    survivors = features.filter(F.col("keep")).select("doc_id", "text")
    pairs = minhash_candidate_pairs(survivors, bucket_cap, n_docs=n_docs)
    # checkpoint_dir: reliable lineage cuts for the component loop on a
    # real cluster (survives executor loss); local default stays fast
    labels = resolve_components(pairs, max_iters, checkpoint_dir)
    # a sort-merge join, never a broadcast of the (checkpointed, hence
    # small-looking) labels: the output then stays hash-partitioned by
    # doc_id, so a doc_id-bucketed write of it opens one writer per
    # bucket instead of one per (features partition, bucket)
    return (
        features.join(labels.hint("merge"), "doc_id", "left")
        .withColumn(
            "cluster_id",
            F.when(
                F.col("keep"), F.coalesce("cluster_id", "doc_id")
            ),  # null for docs that never entered the near-dup stage
        )
        .withColumn(
            "keep_final",
            F.col("keep") & (F.col("cluster_id") == F.col("doc_id")),
        )
    )
