"""Order-dependent fusion tail for the staged pipeline.

BlockProximityFusion / RemoveNonContentBlocksFilter /
KeepLargestBlockFilter (and SimpleBlockFusion + DensityRules for the
DefaultExtractor) mutate a live per-document block array with
snapshot-iteration and skip-on-remove quirks (Q5-Q9) -- inherently
sequential per document.

Execution strategy: after the columnar window stages the blocks are
hash-partitioned by doc_id and sorted (doc_id, is_media, block_offset),
so documents are CONTIGUOUS runs within each partition.  Instead of
``groupBy().applyInPandas`` -- which pays a per-group python call
(~1 ms) that dwarfs the per-document work at millions of tiny groups --
we stream whole partitions through ``mapInArrow`` and split doc runs
ourselves, carrying the tail rows of each Arrow batch into the next so
a document straddling batch boundaries is never split.  Same single
exchange, ~20x less per-doc overhead.

Inside a run we rebuild core TextBlocks and apply the verified core
filters -- the same code the production path uses -- so quirk parity is
structural, not re-derived.

Measured cost anatomy (sf0.1, 20k docs / 294k block rows, local[32]):
the staged path's residual gap vs production is the second bridge
crossing of the block table, and it is Spark's ArrowEvalPython
CELL-WRITE throughput, not python work: a TRIVIAL arrow passthrough
(yield batch unchanged, zero python compute) inserted after the window
stages costs ~the same as the real fusion tail, and to_pylist on top
adds nothing measurable.  Per-row python overhead was already removed
(column-wise access, no per-row tuples; title crosses once per doc).
The remaining lever would be splitting text out of the feature stream
and reassembling JVM-side -- a second exchange and a quirk-sensitive
text-merge reimplementation for ~1s at demo scale; at production scale
the staged path is not the deployment path (arrow_extract is), so the
trade is declined and documented instead.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ..core.document import END_OF_TEXT, TextBlock, TextDocument
from ..core.filters import (
    BlockProximityFusion,
    DensityRulesClassifier,
    ExpandTitleToContentFilter,
    KeepLargestBlockFilter,
    RemoveNonContentBlocksFilter,
    SimpleBlockFusionProcessor,
)
from ..core.jsquirks import ReferenceThrow
from ..sources import OUTPUT_SCHEMA
from ..spans import REFERENCE_THROW
from .arrow_extract import ordered_spans, output_batch

_TAILS = {
    "ArticleExtractor": lambda: [
        BlockProximityFusion(1, False, False),
        RemoveNonContentBlocksFilter(),
        BlockProximityFusion(1, True, False),
        KeepLargestBlockFilter(),
        ExpandTitleToContentFilter(),  # dead given Q3; kept for parity
    ],
    "LargestContentExtractor": lambda: [
        BlockProximityFusion(1, False, False),
        KeepLargestBlockFilter(),
    ],
    "DefaultExtractor": lambda: [
        SimpleBlockFusionProcessor(),
        BlockProximityFusion(1, False, False),
        DensityRulesClassifier(),
    ],
    "KeepEverythingExtractor": lambda: [],
    "Unfiltered": lambda: [],
}

_COLS = [
    "doc_id",
    "title",
    "is_media",
    "block_offset",
    "span_offset",
    "text",
    "tag_level",
    "num_words",
    "num_words_anchor",
    "num_words_wrapped",
    "num_wrapped_lines",
    "kind",
    "media_ref",
    "media_offset",
    "error",
    "is_content",
    "end_of_text",
]


def _process_doc(cols, lo, hi, tail_factory):
    """cols: per-column value lists (in _COLS order) for the whole
    batch; [lo, hi) is this document's contiguous row run, sorted
    blocks-then-media.  Column-wise access avoids materializing a tuple
    per row on the Arrow->Python bridge (measured ~17% of tail time).

    Returns (title, rows, error) with the document's output span
    rows."""
    (_, c_title, c_ismedia, c_boff, c_soff, c_text, c_tag, c_nw,
     c_nwa, c_nww, c_nwl, c_kind, c_ref, c_moff, c_err, c_isc,
     c_eot) = cols
    title = ""
    blocks = []
    media = []
    for i in range(lo, hi):
        if c_err[i] is not None:
            return "", [], c_err[i]
        if not title and c_title[i]:
            title = c_title[i]
        if c_ismedia[i]:
            media.append((int(c_moff[i]), c_kind[i], c_ref[i]))
            continue
        if c_kind[i] == "empty":  # zero-block placeholder row
            continue
        tb = TextBlock(
            c_text[i],
            None,
            int(c_tag[i]),
            int(c_nw[i]),
            int(c_nwa[i]),
            int(c_nww[i]),
            int(c_nwl[i]),
            int(c_boff[i]),
            src_pos=int(c_soff[i]),  # src_pos doubles as owning span offset
        )
        tb.is_content = bool(c_isc[i]) if c_isc[i] is not None else False
        if c_eot[i]:
            tb.add_label(END_OF_TEXT)
        blocks.append(tb)

    doc = TextDocument(title, blocks)
    try:
        for f in tail_factory():
            f.process(doc)
    except ReferenceThrow:
        return "", [], REFERENCE_THROW

    content = [tb for tb in doc.text_blocks if tb.is_content]
    owners = [tb.src_pos for tb in content]
    return title, ordered_spans(owners, content, media), None


def fuse_and_assemble(blocks: DataFrame, extractor: str,
                      ensure_layout: bool = False) -> DataFrame:
    """blocks must arrive hash-partitioned by doc_id (extract_staged
    issues the explicit repartition) and sorted (doc_id, is_media,
    block_offset) -- the window stages guarantee the sort; pass
    ensure_layout=True when no window stage ran (adds only the
    within-partition sort, NOT a second exchange).

    mapInArrow: rows cross the bridge as flat column lists and the
    output span column is assembled as Arrow list/struct arrays by the
    shared codec -- no pandas frames and no per-span dict objects."""
    tail_factory = _TAILS.get(extractor, _TAILS["DefaultExtractor"])

    if ensure_layout:
        blocks = blocks.sortWithinPartitions(
            "doc_id", "is_media", "block_offset"
        )

    proj = blocks.select(*_COLS)

    n_cols = len(_COLS)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry_id = None
        carry_cols: list = []

        def flush(docs):
            """docs: list of (doc_id, cols, lo, hi) -- column views, no
            per-row tuples."""
            if not docs:
                return None
            doc_ids, titles, out, errors = [], [], [], []
            for d, dcols, lo, hi in docs:
                title, rows, err = _process_doc(dcols, lo, hi, tail_factory)
                doc_ids.append(d)
                titles.append(title)
                out.append(rows)
                errors.append(err)
            return output_batch(doc_ids, titles, out, errors)

        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = [batch.column(name).to_pylist() for name in _COLS]
            ids = cols[0]
            n = len(ids)
            bounds = [0]
            bounds += [i for i in range(1, n) if ids[i] != ids[i - 1]]
            bounds.append(n)
            done: list = []
            start_k = 0
            if carry_id is not None:
                if ids[0] == carry_id:
                    # first run continues the carried doc
                    hi0 = bounds[1]
                    for j in range(n_cols):
                        carry_cols[j].extend(cols[j][:hi0])
                    start_k = 1
                    if start_k == len(bounds) - 1:
                        continue  # whole batch was one run; keep carrying
                done.append((carry_id, carry_cols, 0, len(carry_cols[0])))
                carry_id = None
            # middle runs flush as views into the batch columns; the
            # LAST run may straddle into the next batch -> it carries
            for k in range(start_k, len(bounds) - 2):
                done.append((ids[bounds[k]], cols, bounds[k], bounds[k + 1]))
            lo = bounds[-2]
            carry_id = ids[lo]
            carry_cols = [c[lo:] for c in cols]
            out = flush(done)
            if out is not None:
                yield out
        if carry_id is not None:
            out = flush([(carry_id, carry_cols, 0, len(carry_cols[0]))])
            if out is not None:
                yield out

    return proj.mapInArrow(run, schema=OUTPUT_SCHEMA)
