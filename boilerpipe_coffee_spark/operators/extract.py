"""Spark extraction operators.

Two pipelines, both golden-exact against the reference:

1. the PRODUCTION path (operators.arrow_extract.extract_arrow,
   exported as ``extract``).  One map stage: parse + filter chain +
   span reassembly per document inside Arrow batches.  Documents are
   independent, so this is embarrassingly parallel with ZERO shuffles
   -- the plan is scan -> python eval -> sink, and at 10^12 documents
   the only costs are IO and CPU.  This is deliberately NOT a translation of the reference's per-document loop
   into many Spark stages: a per-doc-sequential filter chain gains
   nothing from inter-stage shuffles and pays the full exchange of the
   exploded block table (bigger than the input) at every stage.

2. :func:`extract_staged` -- the OPERATOR-DECOMPOSED path.  Exposes the
   filter chain as real Spark stages over an exploded blocks DataFrame:
   columnar window/when stages (operators.columnar) for the stateless
   filters and one ``applyInPandas`` for the order-dependent fusion
   tail.  Costs exactly ONE hash exchange on doc_id, which the window
   stages and the applyInPandas group share.  Exists to prove each
   reference operator maps to an idiomatic Spark operator and to serve
   unit-level operator queries; bench.py measures both paths.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.extractors import ARTICLE

# ---------------------------------------------------------------- #
# staged path: exploded blocks DF + columnar stages + fusion tail   #
# ---------------------------------------------------------------- #

# one row per text block, plus one row per media span (is_media=true).
# Media rows sort after all block rows inside each doc_id group, so
# window lag/lead sees NULL features at both block-sequence edges --
# exactly the reference's undefined-placeholder semantics (quirk Q2).
BLOCKS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("title", StringType()),
        StructField("is_media", BooleanType(), False),
        StructField("block_offset", IntegerType()),
        StructField("span_offset", IntegerType()),
        StructField("text", StringType()),
        StructField("tag_level", IntegerType()),
        StructField("num_words", IntegerType()),
        StructField("num_words_anchor", IntegerType()),
        StructField("num_words_wrapped", IntegerType()),
        StructField("num_wrapped_lines", IntegerType()),
        StructField("text_density", DoubleType()),
        StructField("link_density", DoubleType()),
        StructField("kind", StringType()),
        StructField("media_ref", StringType()),
        StructField("media_offset", IntegerType()),
        StructField("error", StringType()),
        StructField("is_content", BooleanType()),
        StructField("end_of_text", BooleanType()),
    ]
)


# Arrow mirror of BLOCKS_SCHEMA (IntegerType -> int32, Double -> f64)
_PA_BLOCKS = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("title", pa.string()),
        pa.field("is_media", pa.bool_()),
        pa.field("block_offset", pa.int32()),
        pa.field("span_offset", pa.int32()),
        pa.field("text", pa.string()),
        pa.field("tag_level", pa.int32()),
        pa.field("num_words", pa.int32()),
        pa.field("num_words_anchor", pa.int32()),
        pa.field("num_words_wrapped", pa.int32()),
        pa.field("num_wrapped_lines", pa.int32()),
        pa.field("text_density", pa.float64()),
        pa.field("link_density", pa.float64()),
        pa.field("kind", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("media_offset", pa.int32()),
        pa.field("error", pa.string()),
        pa.field("is_content", pa.bool_()),
        pa.field("end_of_text", pa.bool_()),
    ]
)


def parse_blocks(df: DataFrame) -> DataFrame:
    """mapInArrow parse/featurize: (doc_id, spans) -> block+media rows.

    Reads the spans list<struct> column as flat child arrays paired
    with the list offsets (never ``value_lengths``+``flatten``, which
    desynchronizes on null slots with non-empty backing ranges) and
    emits the block table columnar -- one list per column, extended per
    document -- so the only per-block Python is feature extraction
    itself, not bridge bookkeeping.

    Parse errors (reference throw points reached during parsing, e.g.
    nested <a>) emit a single error row so quarantining survives the
    staged pipeline too.
    """
    from bisect import bisect_right

    from ..core.jsquirks import ReferenceThrow
    from ..core.parser import BoilerpipeParser

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parser = BoilerpipeParser()
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            spans_col = batch.column("spans")
            offsets = spans_col.offsets.to_pylist()
            valid = spans_col.is_valid().to_pylist()
            values = spans_col.values
            kinds = values.field("kind").to_pylist()
            texts = values.field("text").to_pylist()
            refs = values.field("media_ref").to_pylist()
            offs = values.field("offset").to_pylist()

            c = {f.name: [] for f in _PA_BLOCKS}

            for i, doc_id in enumerate(doc_ids):
                lo, hi = (offsets[i], offsets[i + 1]) if valid[i] else (0, 0)
                t_idx = sorted(
                    (j for j in range(lo, hi) if kinds[j] == "text"),
                    key=lambda j: offs[j],
                )
                m_idx = [j for j in range(lo, hi) if kinds[j] != "text"]
                starts, span_offsets, parts = [], [], []
                at = 0
                for j in t_idx:
                    t = texts[j] or ""
                    starts.append(at)
                    span_offsets.append(offs[j])
                    parts.append(t)
                    at += len(t)
                try:
                    doc = parser.parse_document_from_html("".join(parts))
                except ReferenceThrow:
                    c["doc_id"].append(doc_id)
                    c["title"].append("")
                    c["is_media"].append(False)
                    for k in ("block_offset", "span_offset", "text",
                              "tag_level", "num_words", "num_words_anchor",
                              "num_words_wrapped", "num_wrapped_lines",
                              "text_density", "link_density", "kind",
                              "media_ref", "media_offset"):
                        c[k].append(None)
                    c["error"].append("reference_throw")
                    c["is_content"].append(None)
                    c["end_of_text"].append(None)
                    continue

                tbs = doc.text_blocks
                n = len(tbs)
                title = doc.title
                if n:
                    sos = []
                    for tb in tbs:
                        if tb.src_pos >= 0 and starts:
                            sos.append(
                                span_offsets[bisect_right(starts, tb.src_pos) - 1]
                            )
                        else:
                            sos.append(span_offsets[0] if span_offsets else 0)
                    c["doc_id"].extend([doc_id] * n)
                    # title crosses the bridge ONCE per doc (first block
                    # row); the fusion tail takes the first non-null.
                    # The sort key (doc_id, is_media, block_offset)
                    # keeps the first block row first.
                    c["title"].extend([title] + [None] * (n - 1))
                    c["is_media"].extend([False] * n)
                    c["block_offset"].extend(tb.offset_start for tb in tbs)
                    c["span_offset"].extend(sos)
                    c["text"].extend(tb.text for tb in tbs)
                    c["tag_level"].extend(tb.tag_level for tb in tbs)
                    c["num_words"].extend(tb.num_words for tb in tbs)
                    c["num_words_anchor"].extend(
                        int(tb.num_words_in_anchor_text) for tb in tbs
                    )
                    c["num_words_wrapped"].extend(
                        int(tb.num_words_in_wrapped_lines) for tb in tbs
                    )
                    c["num_wrapped_lines"].extend(
                        int(tb.num_wrapped_lines) for tb in tbs
                    )
                    c["text_density"].extend(
                        float(tb.text_density) for tb in tbs
                    )
                    c["link_density"].extend(
                        float(tb.link_density) for tb in tbs
                    )
                    c["kind"].extend(["text"] * n)
                    c["media_ref"].extend([None] * n)
                    c["media_offset"].extend([None] * n)
                    c["error"].extend([None] * n)
                    c["is_content"].extend([False] * n)
                    c["end_of_text"].extend([False] * n)
                m = len(m_idx)
                if m:
                    c["doc_id"].extend([doc_id] * m)
                    # media rows need the title only when there are no
                    # block rows to carry it
                    c["title"].extend(
                        [title] * m if n == 0 else [None] * m
                    )
                    c["is_media"].extend([True] * m)
                    for k in ("block_offset", "span_offset", "text",
                              "tag_level", "num_words", "num_words_anchor",
                              "num_words_wrapped", "num_wrapped_lines",
                              "text_density", "link_density"):
                        c[k].extend([None] * m)
                    c["kind"].extend(kinds[j] for j in m_idx)
                    c["media_ref"].extend(refs[j] for j in m_idx)
                    c["media_offset"].extend(offs[j] for j in m_idx)
                    c["error"].extend([None] * m)
                    c["is_content"].extend([None] * m)
                    c["end_of_text"].extend([None] * m)
                if not n and not m:
                    c["doc_id"].append(doc_id)
                    c["title"].append(title)
                    c["is_media"].append(False)
                    for k in ("block_offset", "span_offset", "text",
                              "tag_level", "num_words", "num_words_anchor",
                              "num_words_wrapped", "num_wrapped_lines",
                              "text_density", "link_density"):
                        c[k].append(None)
                    c["kind"].append("empty")
                    c["media_ref"].append(None)
                    c["media_offset"].append(None)
                    c["error"].append(None)
                    c["is_content"].append(None)
                    c["end_of_text"].append(None)

            yield pa.RecordBatch.from_arrays(
                [pa.array(c[f.name], f.type) for f in _PA_BLOCKS],
                schema=_PA_BLOCKS,
            )

    return df.mapInArrow(run, schema=BLOCKS_SCHEMA)




def extract_staged(df: DataFrame, extractor: str = ARTICLE,
                   n_partitions: int | None = None) -> DataFrame:
    """Operator-decomposed pipeline; output equals :func:`extract`.

    The ONE exchange is issued EXPLICITLY (repartition with a fixed
    partition count) rather than left to the window stages: an
    AQE-planned exchange coalesces the small demo shuffle down to a
    handful of ~1MB partitions, which then caps the Python fusion
    tail's parallelism at that handful of cores (measured 14/32 at
    sf0.1 -- a 2x wall-time tax on the most expensive stage).  An
    explicit numPartitions is exempt from AQE coalescing, and the
    window stages' required hash distribution on doc_id is satisfied
    by it, so no second exchange appears (plan-asserted)."""
    from . import columnar
    from .fusion import fuse_and_assemble

    spark = df.sparkSession
    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    blocks = parse_blocks(df).repartition(n_parts, "doc_id")

    has_window_stage = False
    if extractor == "ArticleExtractor":
        blocks = columnar.terminating_blocks_finder(blocks)
        # DocumentTitleMatchClassifier(null, false) is a no-op (Q3)
        blocks = columnar.num_words_rules_classifier(blocks)
        blocks = columnar.ignore_blocks_after_content(blocks, 60)
        has_window_stage = True
    elif extractor == "LargestContentExtractor":
        blocks = columnar.num_words_rules_classifier(blocks)
        has_window_stage = True
    elif extractor == "KeepEverythingExtractor":
        blocks = columnar.mark_everything_content(blocks)
    elif extractor in ("DefaultExtractor", "Unfiltered"):
        pass  # SimpleBlockFusion runs first -> handled in the fusion tail

    # window stages leave blocks hash-partitioned by doc_id and sorted;
    # chains without one need the layout established explicitly
    return fuse_and_assemble(blocks, extractor, ensure_layout=not has_window_stage)
