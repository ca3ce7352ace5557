"""Arrow-native production extraction, and the one Arrow codec of the
interleaved-span format.

``mapInArrow`` variant of the extract operator: reads the ``spans``
list<struct> column as four flat arrays (one ``to_pylist`` each, all
C-level) and writes the output span column the same way -- no pandas
conversion and no per-span dict objects on either side of the bridge.
Cuts the per-document bridge overhead to a fraction of the parse cost,
which is what keeps python workers CPU-bound (and the N->4N scaling
flat) instead of serialization-bound.

Every Spark extraction stage (this one, ``pipeline.extract_balanced``,
``extract.parse_blocks`` and the ``fusion`` tail) goes through the
functions below for the per-document contract of BASELINE.json
``input_hint``: the HTML is the ``kind='text'`` spans joined in
``offset`` order (:func:`join_html`), each block is attributed to its
span by ``bisect`` on ``src_pos`` (:func:`owning_spans`), output spans
sort on ``(span offset, block start)`` and media on ``(offset, -1)``
(:func:`ordered_spans`).  ``spans.py`` keeps the independent
single-document reference the goldens check.
"""

from __future__ import annotations

from bisect import bisect_right
from operator import itemgetter
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.extractors import ARTICLE, document_from_html
from ..core.jsquirks import ReferenceThrow
from ..sources import OUTPUT_SCHEMA
from ..spans import REFERENCE_THROW

PA_OUTPUT = to_arrow_schema(OUTPUT_SCHEMA)


def decode_spans(batch: pa.RecordBatch):
    """Returns ``(doc_ids, bounds, spans)``: ``spans`` is the four flat
    child lists ``(kinds, texts, refs, offs)`` and ``bounds[i]`` the
    ``(lo, hi)`` range of document i in them.

    Bounds pair the list offsets with the UNFLATTENED child array:
    ``value_lengths()`` maps null slots to 0 but ``flatten()`` drops
    their backing ranges, which would desynchronize every later
    document if a null slot ever carried values.  A null slot reads as
    an empty document."""
    doc_ids = batch.column("doc_id").to_pylist()
    col = batch.column("spans")
    offsets = col.offsets.to_pylist()
    valid = col.is_valid().to_pylist()
    bounds = [
        (offsets[i], offsets[i + 1]) if valid[i] else (0, 0)
        for i in range(len(doc_ids))
    ]
    values = col.values
    spans = (
        values.field("kind").to_pylist(),
        values.field("text").to_pylist(),
        values.field("media_ref").to_pylist(),
        values.field("offset").to_pylist(),
    )
    return doc_ids, bounds, spans


def join_html(spans, lo, hi):
    """One document's HTML from its spans ``[lo, hi)``.

    Returns ``(html, starts, span_offsets, media)``: ``starts[i]`` is
    where text span i begins in the HTML, ``span_offsets[i]`` its
    ``offset``, and ``media`` the non-text spans as ``(offset, kind,
    media_ref)`` in offset order."""
    kinds, texts, refs, offs = spans
    text_spans = []  # (offset, text)
    media = []
    for i in range(lo, hi):
        if kinds[i] == "text":
            text_spans.append((offs[i], texts[i] or ""))
        else:
            media.append((offs[i], kinds[i], refs[i]))
    text_spans.sort(key=itemgetter(0))
    media.sort(key=itemgetter(0))

    parts = []
    starts = []
    span_offsets = []
    at = 0
    for off, t in text_spans:
        starts.append(at)
        span_offsets.append(off)
        parts.append(t)
        at += len(t)
    return "".join(parts), starts, span_offsets, media


def owning_spans(starts, span_offsets, src_positions):
    """Offset of the text span each block came from: the span whose
    start is the last one at or before the block's ``src_pos``."""
    first = span_offsets[0] if span_offsets else 0
    return [
        span_offsets[bisect_right(starts, p) - 1] if p >= 0 and starts else first
        for p in src_positions
    ]


def ordered_spans(owners, blocks, media):
    """One document's output rows ``(kind, text, media_ref, order)``.

    ``blocks`` are its content TextBlocks and ``owners`` their span
    offsets; a block sorts on ``(span offset, block start)``, a media
    span ``(offset, kind, media_ref)`` on ``(offset, -1)`` -- offsets
    are unique per document, so the two kinds never collide."""
    keyed = [
        ((so, tb.offset_start), "text", tb.text, None)
        for so, tb in zip(owners, blocks)
    ]
    keyed += [((off, -1), kind, None, ref) for off, kind, ref in media]
    keyed.sort(key=itemgetter(0))
    return [(kind, text, ref, i) for i, (_, kind, text, ref) in enumerate(keyed)]


def list_column(list_type: pa.ListType, docs) -> pa.ListArray:
    """A list<struct> array with one list per document; each document
    is a list of rows, a row a tuple in the struct's field order."""
    offsets = [0]
    rows = []
    for d in docs:
        rows += d
        offsets.append(len(rows))
    struct_type = list_type.value_type
    cols = zip(*rows) if rows else [()] * struct_type.num_fields
    values = pa.StructArray.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, struct_type)],
        fields=list(struct_type),
    )
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), values, type=list_type
    )


def output_batch(doc_ids, titles, spans, errors) -> pa.RecordBatch:
    """An OUTPUT_SCHEMA batch; ``spans`` holds each document's rows."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, pa.string()),
            pa.array(titles, pa.string()),
            list_column(PA_OUTPUT.field("spans").type, spans),
            pa.array(errors, pa.string()),
        ],
        schema=PA_OUTPUT,
    )


def _extract_one(spans, lo, hi, extractor):
    """Extract the document at ``[lo, hi)``; returns (title, rows,
    error)."""
    html, starts, span_offsets, media = join_html(spans, lo, hi)
    try:
        doc = document_from_html(html, extractor)
    except ReferenceThrow:
        return "", [], REFERENCE_THROW
    content = [tb for tb in doc.text_blocks if tb.is_content]
    owners = owning_spans(starts, span_offsets, [tb.src_pos for tb in content])
    return doc.title, ordered_spans(owners, content, media), None


def extract_arrow(df: DataFrame, extractor: str = ARTICLE) -> DataFrame:
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids, bounds, spans = decode_spans(batch)
            titles, out, errors = [], [], []
            for lo, hi in bounds:
                title, rows, err = _extract_one(spans, lo, hi, extractor)
                titles.append(title)
                out.append(rows)
                errors.append(err)
            yield output_batch(doc_ids, titles, out, errors)

    return df.mapInArrow(run, schema=OUTPUT_SCHEMA)
