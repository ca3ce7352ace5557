"""Spans, and the single-core layer split of the extraction core.

Spans are recorded by the benchmark around calls into the engine's
public functions; nothing inside the engine is instrumented.  A span
has a name, start, end, parent and a shared trace id (the doc_id for
core spans, the pass for pipeline spans).  They are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
from contextlib import contextmanager
from time import perf_counter


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _NullHandler:
    """SAX handler that drops every event: times the scan alone."""

    def onopentag(self, name):
        pass

    def ontext(self, text, srcpos=-1):
        pass

    def onclosetag(self, name):
        pass


class _StandInFrame:
    """Takes the place of a DataFrame so ``extract_arrow`` hands back the
    batch function it would give ``mapInArrow``."""

    def mapInArrow(self, fn, schema):
        return fn


def _percentile(sorted_vals: list[float], q: float) -> float:
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def core_layers(docs: list[dict], batches, tracer: Tracer) -> tuple[dict[str, float], float]:
    """Time each layer of single-document extraction on one core;
    returns the layer metrics and the batch function's time.

    ``docs`` are generated documents, ``batches`` the same documents as
    Arrow record batches.  Per document: ``extract_spans`` (the whole
    core), then ``sax_parse`` with a null handler, ``parse_html`` (scan
    plus block fold) and the ArticleExtractor filter chain separately.
    The plain ``extract_spans`` loop and the Arrow batch function are
    timed as wholes, without per-document spans.  Scan, fold, chain
    and bridge add up to the batch function's time by construction."""
    from boilerpipe_coffee_spark.core.extractors import ARTICLE, filter_chain_for_type
    from boilerpipe_coffee_spark.core.htmlsax import sax_parse
    from boilerpipe_coffee_spark.core.jsquirks import ReferenceThrow
    from boilerpipe_coffee_spark.core.parser import parse_html
    from boilerpipe_coffee_spark.operators.arrow_extract import extract_arrow
    from boilerpipe_coffee_spark.spans import extract_spans, html_from_spans

    for d in docs[: len(docs) // 10]:  # warm-up, untimed
        extract_spans(d["spans"], ARTICLE)
    t0 = perf_counter()
    for d in docs:
        extract_spans(d["spans"], ARTICLE)
    plain_s = perf_counter() - t0

    run = extract_arrow(_StandInFrame(), ARTICLE)
    t0 = perf_counter()
    for _ in run(iter(batches)):
        pass
    arrow_s = perf_counter() - t0

    null = _NullHandler()
    n_bytes = blocks = kept = quarantined = 0
    for d in docs:
        tid = d["doc_id"]
        with tracer.span("core.doc", tid):
            with tracer.span("spans.extract_spans", tid):
                _, _, error = extract_spans(d["spans"], ARTICLE)
            quarantined += error is not None
            html = html_from_spans(d["spans"])[0]
            n_bytes += len(html.encode())
            with tracer.span("htmlsax.sax_parse", tid):
                sax_parse(html, null)
            try:
                with tracer.span("parser.parse_html", tid):
                    doc = parse_html(html)
                blocks += len(doc.text_blocks)
                chain = filter_chain_for_type(ARTICLE)
                with tracer.span("filters.process", tid):
                    chain.process(doc)
                kept += sum(1 for tb in doc.text_blocks if tb.is_content)
            except ReferenceThrow:
                pass

    # what the spans themselves cost: empty spans, timed in bulk
    probe = Tracer()
    t0 = perf_counter()
    for _ in range(10_000):
        with probe.span("probe", ""):
            pass
    span_cost_s = (perf_counter() - t0) / 10_000

    per_doc = sorted(tracer.durations("spans.extract_spans"))
    core_s = sum(per_doc)
    scan_s = tracer.total("htmlsax.sax_parse")
    parse_s = tracer.total("parser.parse_html")
    chain_s = tracer.total("filters.process")
    metrics = {
        "htmlsax.scan_s": scan_s,
        "htmlsax.mb": n_bytes / 1e6,
        "parser.fold_s": parse_s - scan_s,
        "parser.blocks": blocks,
        "filters.chain_s": chain_s,
        "filters.blocks_kept": kept,
        "filters.keep_ratio": kept / max(blocks, 1),
        # extract_spans minus document_from_html (= parse + chain)
        "spans.reassemble_s": core_s - parse_s - chain_s,
        # the Arrow batch function minus document_from_html
        "arrow_extract.bridge_s": arrow_s - parse_s - chain_s,
        "core.docs_per_s_1core": len(docs) / plain_s,
        "core.doc_p50_ms": statistics.median(per_doc) * 1e3,
        "core.doc_p99_ms": _percentile(per_doc, 0.99) * 1e3,
        "core.samples": len(docs),
        "core.quarantined": quarantined,
        # one span around each extract_spans call, against its time
        "trace.core_overhead_frac": span_cost_s * len(docs) / plain_s,
    }
    return metrics, arrow_s
