#!/usr/bin/env python
"""End-to-end training-data pipeline for spark-submit.

    tools/package.sh     # builds dist/boilerpipe_coffee_spark.zip
    spark-submit --py-files dist/boilerpipe_coffee_spark.zip \
        jobs/run_pipeline.py --synth N --output <dir> [--buckets 16]

Stages (the composition a pretraining corpus build runs):

1. EXTRACT   -- resumable bucketed extraction (operators.pipeline.
   run_partitioned: single-scan dynamic partition overwrite,
   per-bucket commit markers) -> <out>/extract/.
2. FEATURES  -- content text reassembly, token count, duplicate-bigram
   fraction (repetition gate), md5 content hash: pure columnar over
   the extracted table.
2a. INCREMENTAL (--incremental PRIOR_OUT) -- probe the batch against
   the prior corpus version's materialized dedup index (content-hash
   + capped band tables, bucketed on the probe join keys; built by a
   prior run's --emit-dedup-index): docs the existing corpus already
   has are dropped before any further work.  Both probes shuffle
   ONLY the incoming batch.
2b. QUALITY  -- optional data-driven gate (--drop-bottom-quality-pct
   X): composite quality score per doc, threshold picked by the
   mergeable histogram sketch (<=1000-key shuffle at any corpus
   size, no global sort), bottom X% dropped; picked threshold is
   reported in the summary JSON.
3. KEEP-SET  -- exact-dedup keep flag (first doc_id per content hash)
   plus quality gates (>= 30 tokens, dup_bigram_frac <= 0.9).
4. NEAR-DUP  -- the production dedup hierarchy's second rung over the
   stage-3 survivors: MinHash-LSH candidate pairs (banded, bucket-
   capped) -> connected components -> one keeper per near-dup cluster
   (--no-near-dup to skip) -> <out>/training/ parquet.
4b. SCRUB (--scrub-pii) -- redact the shared PII_CLASSES chain from
   the keep-set before it is materialized (training/chunks/packed all
   carry redacted text); per-class totals in the summary JSON.
4c. DUP-SPAN GATE (--max-dup-span-frac X) -- drop kept docs whose
   fraction of cross-doc duplicated word-12-gram windows exceeds X
   (textstats.dup_span_frac_df over the keep-set): the substring-
   level boilerplate pass that exact dedup misses when only a
   paragraph is shared and MinHash misses when the shared span is a
   small fraction of both docs.
4d. DUP-SPAN SCRUB (--scrub-dup-spans) -- splice the duplicated spans
   OUT of the surviving keep-set's ORIGINAL bytes instead of (or
   after) dropping whole docs; never drops rows; n_tokens becomes the
   post-splice count with dup_span_removed_tokens as lineage.  With
   --emit-dedup-index the duplicated-gram list lands in the index
   (dup_grams table) so incremental probes REPLAY the splice on raw
   re-fetched text; --incremental splices against the prior list
   union the batch's own duplicates and rolls that forward.
5. OPTIONAL  -- --emit-chunks materializes context-window training
   chunks (token slices re-joined as chunk_text) -> <out>/chunks/;
   --with-media decodes media payloads (real PNG/WAV/GIF codecs,
   corrupt rows quarantined as null features) -> <out>/media/.

Stage 1 resumes from its commit markers on restart; stages 2-4 are a
deterministic function of stage 1's output and rerun idempotently
(overwrite).  Prints ONE JSON line with the stage counts.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# bucket count for the BUCKETED output tables (training/chunks); small
# corpora keep file counts sane, and at 100 TB this is the knob an
# operator raises (file count per table = buckets x writer tasks)
N_OUT_BUCKETS = 8


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="interleaved-doc table/path")
    ap.add_argument("--input-format", default="parquet",
                    choices=("parquet", "jsonl", "warc"),
                    help="container for --input: parquet table/path "
                         "(default), golden-interchange jsonl, or WARC "
                         "crawl shards (*.warc.gz glob)")
    ap.add_argument("--synth", type=int, default=0)
    ap.add_argument("--output", required=True)
    ap.add_argument("--extractor", default="ArticleExtractor")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument(
        "--drop-bottom-quality-pct", type=float, default=None,
        help="data-driven gate: drop the bottom X%% of docs by "
        "composite quality score (threshold picked by the "
        "distributed histogram sketch, <=1000-key shuffle)",
    )
    ap.add_argument("--no-near-dup", action="store_true",
                    help="stop at exact dedup (skip stage 4)")
    ap.add_argument(
        "--emit-dedup-index", action="store_true",
        help="materialize the kept corpus's dedup index (content-hash "
        "+ capped minhash band tables, bucketed on their probe join "
        "keys) -> <out>/dedup_index -- build once per corpus version, "
        "probe per incoming crawl via --incremental",
    )
    ap.add_argument(
        "--incremental", metavar="PRIOR_OUT", default=None,
        help="dedup the incoming batch against a prior run's "
        "<PRIOR_OUT>/dedup_index BEFORE the intra-batch stages: docs "
        "matching the existing corpus (exact hash or banded-LSH "
        "probe) are dropped, only novel docs flow on",
    )
    ap.add_argument(
        "--checkpoint-dir", default=None,
        help="reliable (cluster-visible) checkpoint dir for the "
        "stage-4 connected-components loop; default uses "
        "localCheckpoint (executor-local blocks -- fine on local[*], "
        "not executor-loss-safe on a real cluster)",
    )
    ap.add_argument("--emit-chunks", action="store_true",
                    help="stage 5: materialize context-window training "
                    "chunks from the kept docs -> <out>/chunks/")
    ap.add_argument("--pack-sequences", action="store_true",
                    help="stage 5b: concat-and-split pack the kept "
                    "docs into CONTEXT_LEN-token training sequences "
                    "(deterministic shuffled order, zero padding "
                    "except the final bin) -> <out>/packed/ bucketed "
                    "on bin_id")
    ap.add_argument(
        "--max-dup-span-frac", type=float, default=None,
        help="boilerplate gate: drop kept docs whose fraction of "
        "cross-doc duplicated word-12-gram windows exceeds X "
        "(computed over the keep-set, AFTER dedup, BEFORE scrub/"
        "chunking)",
    )
    ap.add_argument(
        "--scrub-dup-spans", action="store_true",
        help="instead of (or after) dropping whole docs, SPLICE "
        "cross-doc duplicated word-12-gram spans out of the kept "
        "docs' text, preserving the surrounding bytes verbatim "
        "(RefinedWeb-style exact-substring removal; runs AFTER the "
        "--max-dup-span-frac drop gate, so mostly-duplicated docs "
        "can be dropped rather than hollowed out); n_tokens is "
        "recomputed on the scrubbed text, rows are never dropped",
    )
    ap.add_argument(
        "--scrub-pii", action="store_true",
        help="redact PII/links (the shared PII_CLASSES chain) from "
        "the kept docs BEFORE chunking/packing; per-class totals land "
        "in the summary JSON and per-doc n_<class> counts in the "
        "training table",
    )
    ap.add_argument("--with-media", action="store_true",
                    help="decode media payloads from the extracted "
                    "corpus (PNG/WAV/GIF features) -> <out>/media/")
    args = ap.parse_args()
    if not args.synth and not args.input:
        ap.error("one of --input or --synth is required")

    spark = (
        SparkSession.builder.appName("bpc-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    from boilerpipe_coffee_spark.operators.pipeline import run_partitioned
    from boilerpipe_coffee_spark.operators.pretrain import (
        content_features,
        near_dup_keep,
        quality_gate,
    )
    from boilerpipe_coffee_spark.sources import (
        read_docs,
        synth_interleaved,
    )

    if args.synth:
        docs = synth_interleaved(spark, args.synth, seed=42)
    else:
        docs = read_docs(spark, args.input, args.input_format)

    # per-stage wall clock: each tick closes the previous stage.  The
    # near_dup tick matters most -- the components loop runs in EAGER
    # checkpoints during plan construction, so its cost lands in the
    # near_dup_keep() call itself, not in a later action (the r6
    # rehearsal could not see it for exactly that reason).
    import time

    stage_sec: dict[str, float] = {}
    _t = [time.time()]

    def tick(name: str) -> None:
        now = time.time()
        stage_sec[name] = round(
            stage_sec.get(name, 0.0) + now - _t[0], 2
        )
        _t[0] = now

    # stage 1: resumable extraction
    extract_dir = os.path.join(args.output, "extract")
    s1 = run_partitioned(
        spark, docs, extract_dir, args.extractor, n_buckets=args.buckets
    )
    tick("extract")

    # stages 2-3: the SHARED feature/gate operator (same code the
    # driver-contract pretrain_pipeline query runs), keep-set filter
    extracted = spark.read.parquet(os.path.join(extract_dir, "data"))
    features = content_features(extracted)

    # stage 2a (optional): incremental dedup against an EXISTING
    # corpus's materialized index -- the recurring-crawl shape: drop
    # docs the prior corpus version already has (exact hash or banded
    # LSH probe, both bucketed joins that shuffle only this batch)
    # BEFORE spending gates/near-dup work on them
    incr = None
    if args.incremental:
        from boilerpipe_coffee_spark.operators.dedup import (
            probe_dedup_index,
        )

        index_dir = os.path.join(args.incremental, "dedup_index")
        decisions = probe_dedup_index(
            spark, features.select("doc_id", "text"), index_dir
        ).persist()
        # sentinel is typed to the corpus doc_id dtype (string ids ->
        # "-1"); compare with the same cast, never a bare int literal
        sent = F.lit(-1).cast(decisions.schema["exact_dup_of"].dataType)
        row = decisions.agg(
            F.sum(F.when(F.col("exact_dup_of") != sent, 1).otherwise(0))
            .alias("n_exact"),
            F.sum(
                F.when(
                    (F.col("exact_dup_of") == sent)
                    & (F.col("near_dup_of") != sent),
                    1,
                ).otherwise(0)
            ).alias("n_near"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_novel"),
        ).collect()[0]
        incr = {
            "incr_exact_dup": int(row.n_exact or 0),
            "incr_near_dup": int(row.n_near or 0),
            "incr_novel": int(row.n_novel or 0),
        }
        features = features.join(
            decisions.filter(F.col("keep")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        tick("incremental_probe")

    # stage 2b: data-driven quality gate -- the feature stage feeds
    # multiple consumers from here on, so persist before the gate's
    # histogram action
    quality_threshold = None
    persisted = None
    if args.drop_bottom_quality_pct is not None or not args.no_near_dup:
        features = features.persist()
        persisted = features
    if args.drop_bottom_quality_pct is not None:
        features, quality_threshold = quality_gate(
            features, args.drop_bottom_quality_pct
        )
        tick("quality_gate")

    # stage 4: near-dup keepers over the exact-dedup survivors
    if args.no_near_dup:
        training = features.filter(F.col("keep"))
        exact_kept = None
    else:
        exact_kept = features.filter(F.col("keep")).count()
        tick("exact_count")
        # exact_kept doubles as n_docs for the adaptive minhash
        # banding -- no extra pass over the survivors
        training = near_dup_keep(
            features, checkpoint_dir=args.checkpoint_dir, n_docs=exact_kept
        ).filter(F.col("keep_final")).drop("keep_final")
        tick("near_dup_components")
    # the gate columns end here on every path: training/ carries the
    # same schema with or without the quality gate (drop ignores a
    # column the frame does not have)
    training = training.drop(
        "quality", "passes_quality", "is_canonical", "passes_gates", "keep"
    )

    # stage 4c: cross-doc duplicated-span (boilerplate) gate over the
    # keep-set.  The flagged frame is O(dropped docs); persist it so
    # the |tokens|-row dup computation runs once, not once for the
    # count and again under the anti-join.  The TRAINING frame is also
    # persisted across the gate: its lineage tail (the features-labels
    # keep_final join) would otherwise re-evaluate once per gram
    # consumer inside dup_span_frac_df and again under the write's
    # anti-join -- measured at 500k: gate 201->89 s, write 86->31 s,
    # untouched stages flat (BASELINE.md r8).  Only the gram
    # INTERMEDIATE stays recompute
    # (the r8 persist-vs-recompute A/B); the gate's input frame is the
    # cheap-to-cache, expensive-to-recompute side.
    dup_span_dropped = None
    flagged = None
    training_pinned = None
    if args.max_dup_span_frac is not None:
        from pyspark import StorageLevel

        from boilerpipe_coffee_spark.operators.textstats import (
            dup_span_frac_df,
        )

        training = training.persist(StorageLevel.MEMORY_AND_DISK)
        training_pinned = training
        flagged = (
            dup_span_frac_df(training.select("doc_id", "text"))
            .filter(F.col("dup_frac") > args.max_dup_span_frac)
            .select("doc_id")
            .persist()
        )
        dup_span_dropped = flagged.count()
        training = training.join(flagged, "doc_id", "left_anti")
        tick("dup_span_gate")

    # stage 4d: splice cross-doc duplicated spans OUT of the surviving
    # keep-set text (--scrub-dup-spans, RefinedWeb-style exact-
    # substring removal).  Runs AFTER the drop gate so mostly-
    # duplicated docs are dropped whole rather than hollowed out;
    # never drops rows, so the summary's keep arithmetic is untouched.
    # The scrub output carries the full text (cheap to cache,
    # expensive to recompute -- the same reasoning as the gate's
    # training pin), so it is pinned across the stats agg + the
    # training write.  Post-scrub n_tokens is exact arithmetic
    # (n_tokens - removed_tokens): the splice removes exactly the
    # covered tokens and never merges kept neighbours (the cut always
    # leaves the separator run that preceded the span).
    dup_scrub_stats = None
    scrub_pin = None
    dup_grams_pin = None
    if args.scrub_dup_spans:
        from pyspark import StorageLevel

        from boilerpipe_coffee_spark.operators.textstats import (
            dup_grams_df,
            dup_span_scrub_df,
        )

        if training_pinned is None:
            training = training.persist(StorageLevel.MEMORY_AND_DISK)
            training_pinned = training
        # the gram list is the REPRESENTATION: it feeds the splice
        # here AND lands in the dedup index so probes can replay it.
        # An incremental batch splices against the PRIOR corpus's
        # list UNION its own duplicates -- the list the rolled index
        # records; the roll merges the prior table in itself, so it
        # gets only the batch's own list.
        dup_grams_pin = dup_grams_df(
            training.select("doc_id", "text")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        splice_grams = dup_grams_pin
        if args.incremental:
            from boilerpipe_coffee_spark.operators.dedup import (
                read_index_meta,
            )

            prior_idx = os.path.join(args.incremental, "dedup_index")
            if not read_index_meta(prior_idx).get("dup_span_scrubbed"):
                raise ValueError(
                    f"--scrub-dup-spans with --incremental needs a "
                    f"prior index built with the same flag; "
                    f"{prior_idx} is not dup_span_scrubbed"
                )
            # explicit schema: an index over a corpus with NO
            # surviving cross-doc spans has an EMPTY (file-less)
            # dup_grams table, which schema inference cannot read.
            # No distinct here: the splice dedups its gram frame.
            splice_grams = (
                spark.read.schema("g bigint")
                .parquet(os.path.join(prior_idx, "dup_grams"))
                .unionByName(dup_grams_pin)
            )
        scrub_pin = dup_span_scrub_df(
            training.select("doc_id", "text"),
            normal_form=False,
            grams=splice_grams,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        row = scrub_pin.agg(
            F.sum((F.col("removed_tokens") > 0).cast("int")).alias("d"),
            F.sum("removed_tokens").alias("t"),
        ).collect()[0]
        dup_scrub_stats = {
            "dup_span_scrubbed_docs": int(row["d"] or 0),
            "dup_span_scrubbed_tokens": int(row["t"] or 0),
        }
        # dup_span_removed_tokens is lineage: n_tokens +
        # dup_span_removed_tokens reconstructs the PRE-scrub count
        # (what the min-token admission gate saw), so consumers and
        # rehearsal invariants can distinguish "admitted short" from
        # "scrubbed short"
        training = training.drop("text", "n_tokens").join(
            scrub_pin.select(
                "doc_id",
                F.col("scrubbed_text").alias("text"),
                (F.col("n_tokens") - F.col("removed_tokens"))
                .cast("int")
                .alias("n_tokens"),
                F.col("removed_tokens")
                .cast("int")
                .alias("dup_span_removed_tokens"),
            ),
            "doc_id",
        )
        tick("dup_span_scrub")
    # output tables land BUCKETED on doc_id (write_bucketed): pay the
    # partitioning shuffle once here so every downstream join against
    # training/chunks (and their mutual join) plans exchange-free --
    # consumers in a fresh session re-attach the layout with
    # sources.register_bucketed(<table>, <dir>, "doc_id", N_OUT_BUCKETS)
    # compliance pass: scrub the keep-set BEFORE it is materialized,
    # so training/, chunks/ and packed/ all carry redacted text only
    if args.scrub_pii:
        from boilerpipe_coffee_spark.functions import TOKENS
        from boilerpipe_coffee_spark.operators.textstats import (
            scrub_pii_df,
        )

        # n_tokens must describe the text the table actually carries:
        # placeholders tokenize differently, so recompute on the
        # scrubbed text (chunk/pack re-tokenize anyway; this keeps
        # closed-form consumers of n_tokens honest for PII docs)
        training = scrub_pii_df(training).withColumn(
            "n_tokens", F.size(F.expr(TOKENS))
        )

    import hashlib

    from boilerpipe_coffee_spark.sources import write_bucketed

    tbl_tag = hashlib.md5(
        os.path.abspath(args.output).encode()
    ).hexdigest()[:8]
    training_dir = os.path.join(args.output, "training")
    training_table = f"bpc_training_{tbl_tag}"
    if training_pinned is not None:
        # a pinned keep-set reaches the write with rows of many buckets
        # per task: the 4c/4d pin keeps near_dup_keep's doc_id shuffle
        # at its full, un-coalesced width (cached plans keep their
        # output partitioning) and the gate's anti-join re-shuffles.
        # One partition per bucket gives one writer per bucket; the
        # default path never pins and needs no extra exchange.
        training = training.repartition(N_OUT_BUCKETS, "doc_id")
    write_bucketed(
        training, training_table, training_dir, "doc_id",
        n_buckets=N_OUT_BUCKETS,
    )
    tick("training_write")
    if persisted is not None:
        persisted.unpersist()
    if incr is not None:
        decisions.unpersist()
    if flagged is not None:
        flagged.unpersist()
    if scrub_pin is not None:
        scrub_pin.unpersist()
    if training_pinned is not None:
        training_pinned.unpersist()

    kept = spark.read.parquet(training_dir).count()

    pii_totals = None
    if args.scrub_pii:
        from boilerpipe_coffee_spark.operators.textstats import PII_CLASSES

        row = spark.read.parquet(training_dir).agg(
            *[
                F.sum(f"n_{name}").alias(name)
                for name, _, _ in PII_CLASSES
            ]
        ).collect()[0]
        pii_totals = {name: int(row[name] or 0) for name, _, _ in PII_CLASSES}
    tick("post_counts")

    # corpus-version dedup index over the KEPT set (the "existing
    # corpus" the next incremental ingest probes).  An incremental run
    # ROLLS the prior version's index forward -- the v2 corpus is
    # v1 UNION this batch's keepers, so a fresh build over only the
    # batch would silently forget every v1 doc; update_dedup_index
    # merges without re-signing the existing corpus (batch-cost only)
    dedup_index_dir = None
    index_meta = None
    if args.emit_dedup_index:
        dedup_index_dir = os.path.join(args.output, "dedup_index")
        kept_docs = spark.read.parquet(training_dir).select(
            "doc_id", "text"
        )
        if args.incremental:
            from boilerpipe_coffee_spark.operators.dedup import (
                update_dedup_index,
            )

            index_meta = update_dedup_index(
                kept_docs,
                os.path.join(args.incremental, "dedup_index"),
                dedup_index_dir,
                scrubbed=args.scrub_pii,
                dup_span_scrubbed=args.scrub_dup_spans,
                new_dup_grams=dup_grams_pin,
            )
        else:
            from boilerpipe_coffee_spark.operators.dedup import (
                build_dedup_index,
            )

            build_dedup_index(
                kept_docs, dedup_index_dir, scrubbed=args.scrub_pii,
                dup_span_scrubbed=args.scrub_dup_spans,
                dup_grams=dup_grams_pin,
            )
        tick("dedup_index")
    if dup_grams_pin is not None:
        dup_grams_pin.unpersist()

    # stage 5 (optional): materialized training chunks + media features
    n_chunks = n_media = media_quarantined = None
    if args.emit_chunks:
        from boilerpipe_coffee_spark.operators.pretrain import emit_chunks

        chunks_dir = os.path.join(args.output, "chunks")
        chunks_table = f"bpc_chunks_{tbl_tag}"
        write_bucketed(
            emit_chunks(spark.read.parquet(training_dir)),
            chunks_table, chunks_dir, "doc_id", n_buckets=N_OUT_BUCKETS,
        )
        n_chunks = spark.read.parquet(chunks_dir).count()
        tick("chunks")
    packed_bins = None
    if args.pack_sequences:
        from boilerpipe_coffee_spark.operators.textstats import (
            packed_sequences,
        )

        packed_dir = os.path.join(args.output, "packed")
        packed_table = f"bpc_packed_{tbl_tag}"
        write_bucketed(
            packed_sequences(
                spark.read.parquet(training_dir).select("doc_id", "text")
            ),
            packed_table, packed_dir, "bin_id", n_buckets=N_OUT_BUCKETS,
        )
        packed_bins = spark.read.parquet(packed_dir).count()
        tick("packed")
    if args.with_media:
        from boilerpipe_coffee_spark.operators.multimodal import (
            decode_features,
            media_payloads,
        )

        media_dir = os.path.join(args.output, "media")
        decode_features(media_payloads(extracted)).write.mode(
            "overwrite"
        ).parquet(media_dir)
        m = spark.read.parquet(media_dir)
        n_media = m.count()
        media_quarantined = m.filter(F.col("n_bytes").isNull()).count()
        tick("media")
    totals = extracted.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("q"),
    ).collect()[0]
    tick("totals")
    summary = {
        "stage_sec": stage_sec,
        "buckets_run": s1["buckets_run"],
        "buckets_skipped": s1["buckets_skipped"],
        "extracted": int(totals.n),
        "quarantined": int(totals.q or 0),
        "kept": kept,
        "training_table": training_table,
    }
    if args.emit_chunks:
        summary["chunks_table"] = chunks_table
    if incr is not None:
        summary.update(incr)
    if dedup_index_dir is not None:
        summary["dedup_index"] = dedup_index_dir
    if index_meta is not None:
        # the epoch signal: corpus growth moved minhash_banding past
        # the index's frozen (b, r) -- schedule a full rebuild at the
        # next version roll (BASELINE.md r8 "banding_stale epoch")
        summary["banding_stale"] = index_meta["banding_stale"]
    if pii_totals is not None:
        summary["pii_scrubbed"] = pii_totals
    if exact_kept is not None:
        summary["exact_kept"] = exact_kept
        # exact_kept - kept also absorbs any dup-span-gate drops;
        # subtract them so the near-dup number means near-dup only
        summary["near_dup_dropped"] = (
            exact_kept - kept - (dup_span_dropped or 0)
        )
    if quality_threshold is not None:
        summary["quality_threshold"] = quality_threshold
    if dup_span_dropped is not None:
        summary["dup_span_dropped"] = dup_span_dropped
    if dup_scrub_stats is not None:
        summary.update(dup_scrub_stats)
    if n_chunks is not None:
        summary["chunks"] = n_chunks
    if packed_bins is not None:
        summary["packed_bins"] = packed_bins
        summary["packed_table"] = packed_table
    if n_media is not None:
        summary["media_rows"] = n_media
        summary["media_quarantined"] = media_quarantined
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
