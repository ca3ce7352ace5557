"""Deterministic synthetic corpus of interleaved text+media documents.

Implements FIXTURES.md section 1: the ``documents_interleaved`` table
with quirk-trigger strata, generated purely from a seed -- no external
data.  Generation is per-document seeded (seed, doc_index), so the
corpus can be materialized *distributed* (Spark range -> mapInPandas)
without ever shipping rows from the driver; that is what lets bench.py
scale the same generator from 200 docs to millions.

Vocabulary and page shapes reuse the reference's own test material
(tests/TestHelper.coffee:4 word list; template shapes from
tests/Tests.coffee parser specs).
"""

from __future__ import annotations

import random

# tests/TestHelper.coffee:4 (split(' ') keeps the trailing '' -- we
# drop it; exampleText never reaches it in the specs we port)
LOREM = (
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit. Donec "
    "fermentum tincidunt magna, eu pulvinar mauris dapibus pharetra. In "
    "varius, nisl a rutrum porta, sem sem semper lacus, et varius urna "
    "tellus vel lorem. Nullam urna eros, luctus eget blandit ac, "
    "imperdiet feugiat ipsum. Donec laoreet tristique mi a bibendum. "
    "Sed pretium bibendum scelerisque. Mauris id pellentesque turpis. "
    "Mauris porta adipiscing massa, quis tempus dui pharetra ac. Morbi "
    "lacus mauris, feugiat ac tempor ut, congue tincidunt risus. "
    "Pellentesque tincidunt adipiscing elit, in fringilla enim "
    "scelerisque vel. Nulla facilisi."
).split(" ")


def _words(rng: random.Random, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi)
    start = rng.randrange(0, len(LOREM) - 1)
    out = []
    while len(out) < n:
        take = LOREM[start : start + (n - len(out))]
        out.extend(take)
        start = 0
    return " ".join(out)


def _para(rng, lo=25, hi=90):
    return f"<p>{_words(rng, lo, hi)}</p>"


def _short(rng, lo=1, hi=10):
    return f"<p>{_words(rng, lo, hi)}</p>"


def _nav(rng, nlinks=None):
    nlinks = nlinks or rng.randint(2, 6)
    links = " ".join(
        f'<a href="/x{i}">{_words(rng, 1, 3)}</a>' for i in range(nlinks)
    )
    return f"<div>{links}</div>"


def _list(rng):
    items = "".join(f"<li>{_words(rng, 1, 5)}</li>" for _ in range(rng.randint(2, 5)))
    return f"<ul>{items}</ul>"


def _table(rng):
    rows = "".join(
        f"<tr><td>{_words(rng, 1, 4)}</td><td>{_words(rng, 2, 8)}</td></tr>"
        for _ in range(rng.randint(1, 3))
    )
    return f"<table>{rows}</table>"


def _script(rng):
    return f'<script>var x = "{_words(rng, 2, 8)}"; if (x < 2) {{ y(); }}</script>'


def _inline_para(rng):
    return (
        f"<p>{_words(rng, 8, 25)} <b>{_words(rng, 1, 3)}</b> "
        f"{_words(rng, 4, 12)} <em>{_words(rng, 1, 2)}</em>.</p>"
    )


def _anchor_para(rng):
    return (
        f"<p>{_words(rng, 4, 12)} "
        f'<a href="/r">{_words(rng, 1, 4)}</a> {_words(rng, 4, 12)}</p>'
    )


def _terminator(rng):
    return rng.choice(
        [
            f"<p>{rng.randint(1, 400)} comments</p>",
            "<p>Please rate this article</p>",
            "<p>post a comment below</p>",
            "<p>Comments from our readers</p>",
            f"<p>{rng.randint(2, 80)} users responded in total</p>",
        ]
    )


def _whitespace_blocks(rng):
    return (
        f"<p>{_words(rng, 3, 8)} </p> \n\t <div>   </div>"
        f"<p>\n {_words(rng, 2, 6)}  </p>"
    )


# strata assignment by doc_index bucket (deterministic proportions,
# FIXTURES.md "each >=5% of docs")
def _stratum(doc_index: int) -> str:
    b = doc_index % 100
    if b < 6:
        return "first-block-content"
    if b < 12:
        return "nc-run"
    if b < 18:
        return "tie-max"
    if b < 24:
        return "all-boilerplate"
    if b < 30:
        return "terminator"
    if b < 36:
        return "whitespace"
    if b < 42:
        return "title-edge"
    if b < 50:
        return "media-adjacent"
    if b < 52:
        return "giant-doc"
    return "generic"


def _body_elements(rng: random.Random, stratum: str, giant_max: int) -> list[str]:
    els: list[str] = []
    if stratum == "first-block-content":
        els.append(_para(rng, 40, 90))
        for _ in range(rng.randint(1, 5)):
            els.append(rng.choice([_para(rng), _nav(rng), _short(rng)]))
    elif stratum == "nc-run":
        els.append(_para(rng, 30, 70))
        for _ in range(rng.randint(3, 6)):
            els.append(_nav(rng))
        els.append(_para(rng, 30, 70))
        els.append(_nav(rng))
    elif stratum == "tie-max":
        w = _words(rng, 12, 20)
        els.append(f"<p>{w}</p>")
        els.append(_nav(rng))
        els.append(_nav(rng))
        els.append(f"<p>{w}</p>")
    elif stratum == "all-boilerplate":
        for _ in range(rng.randint(4, 8)):
            els.append(_nav(rng))
    elif stratum == "terminator":
        els.append(_para(rng, 60, 110))
        els.append(_para(rng, 30, 60))
        els.append(_terminator(rng))
        els.append(_short(rng, 3, 10))
        els.append(_nav(rng))
    elif stratum == "whitespace":
        els.append(_whitespace_blocks(rng))
        els.append(_para(rng, 30, 70))
        els.append(_whitespace_blocks(rng))
    elif stratum == "title-edge":
        els.append(_para(rng, 30, 70))
        els.append(rng.choice([_nav(rng), _short(rng)]))
    elif stratum == "media-adjacent":
        els.append(_para(rng, 25, 60))
        els.append(_para(rng, 25, 60))
        els.append(_nav(rng))
    elif stratum == "giant-doc":
        n = rng.randint(120, giant_max)
        for _ in range(n):
            r = rng.random()
            if r < 0.5:
                els.append(_para(rng, 15, 45))
            elif r < 0.75:
                els.append(_nav(rng))
            else:
                els.append(_short(rng))
    else:  # generic article page
        for _ in range(rng.randint(2, 10)):
            r = rng.random()
            if r < 0.30:
                els.append(_para(rng))
            elif r < 0.42:
                els.append(_nav(rng))
            elif r < 0.52:
                els.append(_short(rng))
            elif r < 0.60:
                els.append(_inline_para(rng))
            elif r < 0.68:
                els.append(_anchor_para(rng))
            elif r < 0.76:
                els.append(_list(rng))
            elif r < 0.82:
                els.append(_table(rng))
            elif r < 0.88:
                els.append(_script(rng))
            elif r < 0.94:
                els.append(_terminator(rng))
            else:
                els.append(f"<h1>{_words(rng, 2, 6)}</h1>")
    return els


def generate_doc(doc_index: int, seed: int = 42, giant_max: int = 600) -> dict:
    """One deterministic interleaved document row."""
    rng = random.Random((seed << 24) ^ doc_index)
    stratum = _stratum(doc_index)

    if stratum == "title-edge":
        head = (
            f"<head>{_words(rng, 1, 3)}<title> {_words(rng, 2, 6)} </title>"
            f"<title>{_words(rng, 1, 3)}</title>{_words(rng, 1, 2)}</head>"
        )
    elif rng.random() < 0.85:
        head = f"<head><title>{_words(rng, 2, 8)}</title></head>"
    else:
        head = ""

    els = _body_elements(rng, stratum, giant_max)

    # group body elements into 1-10 text chunks (spans)
    n_chunks = min(len(els), rng.randint(1, 10))
    chunks: list[list[str]] = [[] for _ in range(n_chunks)]
    for idx, el in enumerate(els):
        chunks[min(idx * n_chunks // max(len(els), 1), n_chunks - 1)].append(el)
    texts = ["".join(c) for c in chunks]
    texts[0] = f"<html>{head}<body>" + texts[0]
    texts[-1] = texts[-1] + "</body></html>"

    # interleave ~20% media spans (media-adjacent stratum gets more)
    media_rate = 0.5 if stratum == "media-adjacent" else 0.2
    spans = []
    offset = 0
    media_i = 0
    doc_id = f"doc-{doc_index:08d}"
    for t in texts:
        while rng.random() < media_rate:
            kind = rng.choice(["image", "video", "audio"])
            spans.append(
                {
                    "kind": kind,
                    "text": None,
                    "media_ref": f"media://{doc_id}/{media_i}",
                    "offset": offset,
                }
            )
            media_i += 1
            offset += 1
        spans.append({"kind": "text", "text": t, "media_ref": None, "offset": offset})
        offset += 1
    if rng.random() < media_rate:
        spans.append(
            {
                "kind": rng.choice(["image", "video", "audio"]),
                "text": None,
                "media_ref": f"media://{doc_id}/{media_i}",
                "offset": offset,
            }
        )
    return {"doc_id": doc_id, "spans": spans}


def generate_corpus(n_docs: int, seed: int = 42, giant_max: int = 600):
    """Driver-side generator for tests/golden (bench uses the Spark
    distributed path in sources/)."""
    return [generate_doc(i, seed, giant_max) for i in range(n_docs)]
