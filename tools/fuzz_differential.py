#!/usr/bin/env python
"""Differential fuzz gate vs the UNMODIFIED reference.

Requires node and the reference checkout; without them the gate is
NOT RUN and exits 2, so a skip never reads as a pass.
Two layers:

1. SAX event-stream parity: our scanner vs htmlparser2 3.3.0 on
   adversarial tag soup (quote quirks, special-mode script/style,
   comments/CDATA/PI, EOF truncations).
2. Document parity: full extraction (5 extractors) on quirk-targeted
   pages (NC runs, ties, nested anchors, whitespace edges, multi-title
   heads, unbalanced tags) -- exact blocks, densities, labels, offsets,
   and crash-for-crash agreement.

usage: python tools/fuzz_differential.py [n_docs] [seed]
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
REFERENCE = "/root/reference/lib/Boilerpipe.js"

from boilerpipe_coffee_spark.core.extractors import document_from_html  # noqa
from boilerpipe_coffee_spark.core.htmlsax import sax_parse  # noqa
from boilerpipe_coffee_spark.core.jsquirks import ReferenceThrow  # noqa

_EVENTS_JS = """
const htmlparser = require('/root/reference/node_modules/htmlparser2');
let input = '';
process.stdin.on('data', d => input += d);
process.stdin.on('end', () => {
  const docs = JSON.parse(input);
  const out = docs.map(html => {
    const ev = [];
    const p = new htmlparser.Parser({
      onopentag: (n) => ev.push(['o', n]),
      ontext: (t) => ev.push(['t', t]),
      onclosetag: (n) => ev.push(['c', n]),
    });
    try { p.parseComplete(html); } catch (e) { ev.push(['err', String(e)]); }
    return ev;
  });
  process.stdout.write(JSON.stringify(out));
});
"""

_DOCS_JS = """
console.log = (...a) => process.stderr.write(a.join(' ') + '\\n');
const B = require('/root/reference/lib/Boilerpipe.js');
let input = '';
process.stdin.on('data', d => input += d);
process.stdin.on('end', () => {
  const {docs, extractor} = JSON.parse(input);
  const out = docs.map(html => {
    try {
      const d = B.documentFromHTML(html, extractor);
      return {title: d.title, blocks: d.textBlocks.map(b => ({
        t: b.text, c: !!b.isContent, nw: b.numWords, os: b.offsetStart,
        oe: b.offsetEnd, tl: b.tagLevel,
        td: (typeof b.textDensity === 'number' && isFinite(b.textDensity)) ? b.textDensity : String(b.textDensity),
        ld: (typeof b.linkDensity === 'number' && isFinite(b.linkDensity)) ? b.linkDensity : String(b.linkDensity),
        lab: b.labels}))};
    } catch (e) { return {error: true}; }
  });
  process.stdout.write(JSON.stringify(out));
});
"""


def _node(js: str, payload: str) -> str:
    out = subprocess.run(
        ["node", "-e", js], input=payload, capture_output=True, text=True
    )
    if out.returncode != 0:
        raise RuntimeError(out.stderr[:500])
    return out.stdout


class _EventCollector:
    def __init__(self):
        self.ev = []

    def onopentag(self, n):
        self.ev.append(["o", n])

    def ontext(self, t, pos=-1):
        self.ev.append(["t", t])

    def onclosetag(self, n):
        self.ev.append(["c", n])


def _norm_num(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
    return v


def _py_doc(html, extractor):
    try:
        d = document_from_html(html, extractor)
        return {
            "title": d.title,
            "blocks": [
                {
                    "t": b.text,
                    "c": bool(b.is_content),
                    "nw": b.num_words,
                    "os": b.offset_start,
                    "oe": b.offset_end,
                    "tl": b.tag_level,
                    "td": _norm_num(b.text_density),
                    "ld": _norm_num(b.link_density),
                    "lab": b.labels,
                }
                for b in d.text_blocks
            ],
        }
    except ReferenceThrow:
        return {"error": True}


TAGS = "p div span a b body head html title li ul table tr td script style br img h1 em strong option select input su s st sc scriptx noscript font abbr".split()
SOUP = ["hello", "world", "foo,", "bar!", "x", "<", " ", ">", "&amp;", "&",
        '"q"', "it's", "a-b", "1.5", "\n", "\t", "  ", "c"]
WEIRD = ["<>", "< x>", "</>", "<<", "</ p>", "</ script>", "<3>", "</br>",
         "</p>", "<!-- comment -->", "<!---->", "<!-- a -- b -->",
         "<!DOCTYPE html>", "<![CDATA[x<y]]>", "<?php x ?>", "<!x>"]
ATTRS = ['', ' href="x>y"', " class='a b'", " id=foo", " checked", " a=>x",
         ' x = "1"', " /", ' a="unclosed']


def gen_soup(rng):
    parts = []
    for _ in range(rng.randint(1, 40)):
        r = rng.random()
        if r < 0.35:
            parts.append(rng.choice(SOUP))
        elif r < 0.55:
            parts.append(f"<{rng.choice(TAGS)}{rng.choice(ATTRS)}>")
        elif r < 0.75:
            parts.append(f"</{rng.choice(TAGS)}>")
        elif r < 0.85:
            parts.append(rng.choice(WEIRD))
        else:
            parts.append(rng.choice([
                '<script>var x="<div>";</script>', "<style>a{x:1}</style>",
                "<script>unclosed", "<ScRiPt>X</sCrIpT >",
                "<script a=b>y</script x>"]))
    return "".join(parts)


WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
         "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega").split()


def _s(rng, lo=1, hi=12):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def gen_page(rng):
    parts = []
    if rng.random() < 0.5:
        parts.append("<html>")
        if rng.random() < 0.5:
            parts.append(
                f"<head>{_s(rng)}<title> {_s(rng,2,5)} </title>"
                f"<title>{_s(rng,1,3)}</title>{_s(rng,1,4)}</head>"
            )
    if rng.random() < 0.9:
        parts.append("<body>")
    for _ in range(rng.randint(1, 18)):
        q = rng.random()
        if q < 0.10:
            for _ in range(rng.randint(3, 6)):
                parts.append(f'<div><a href="#">{_s(rng,1,3)}</a></div>')
        elif q < 0.2:
            parts.append(f"<p>{_s(rng,20,80)}</p>")
        elif q < 0.28:
            parts.append(f"<p>{_s(rng,2,9)} </p> \n\t <div>  </div><p> {_s(rng,1,4)} </p>")
        elif q < 0.36:
            w = _s(rng, 10, 10)
            parts.append(f"<p>{w}</p><div>{_s(rng,1,2)}</div><p>{w}</p>")
        elif q < 0.44:
            parts.append(f'<p><a href="#">{_s(rng,2,5)}</p><p>{_s(rng,3,8)}</a> {_s(rng,2,5)}</p>')
        elif q < 0.52:
            parts.append(rng.choice([
                f"<p>{rng.randint(1,999)} comments</p>",
                "<p>  please rate this  </p>",
                "<p>thanks for your comments - this feedback is now closed</p>"]))
        elif q < 0.6:
            parts.append(rng.choice(["<p>...</p>", "<p>!!! ???</p>", "<p>,,,.;;</p>"]))
        elif q < 0.68:
            parts.append(f"<select><option>{_s(rng,1,4)}</option></select><p>{_s(rng,4,9)}</p>")
        elif q < 0.76:
            parts.append(f"<p>{_s(rng,2,5)} &amp; &#65; café {_s(rng,1,4)}</p>")
        elif q < 0.84:
            parts.append(f'<p><a href="1">{_s(rng,1,3)}<a href="2">{_s(rng,1,3)}</a></a></p>')
        elif q < 0.92:
            parts.append(f"{_s(rng,3,9)}<br>{_s(rng,2,6)}<hr>")
        else:
            parts.append(rng.choice([f"<p>{_s(rng,3,8)}", f"</body>{_s(rng,2,5)}<body><p>{_s(rng,2,8)}</p>"]))
    if rng.random() < 0.8:
        parts.append("</body></html>")
    return "".join(parts)


def main(n_docs=2000, seed=1):
    if shutil.which("node") is None or not os.path.exists(REFERENCE):
        print(f"NOT RUN: needs node and {REFERENCE}", file=sys.stderr)
        return 2
    rng = random.Random(seed)

    soup = [gen_soup(rng) for _ in range(n_docs)]
    expected = json.loads(_node(_EVENTS_JS, json.dumps(soup)))
    bad = 0
    for doc, exp in zip(soup, expected):
        if exp and exp[-1][0] == "err":
            continue
        h = _EventCollector()
        sax_parse(doc, h)
        if h.ev != exp:
            bad += 1
            if bad <= 3:
                print("EVENT MISMATCH", repr(doc)[:200])
    print(f"events: {bad}/{len(soup)} mismatches")

    pages = [gen_page(rng) for _ in range(n_docs)]
    total_bad = 0
    for extractor in ["ArticleExtractor", "DefaultExtractor",
                      "LargestContentExtractor", "KeepEverythingExtractor",
                      "Unfiltered"]:
        exp = json.loads(
            _node(_DOCS_JS, json.dumps({"docs": pages, "extractor": extractor}))
        )
        bad = sum(1 for p, e in zip(pages, exp) if _py_doc(p, extractor) != e)
        print(f"{extractor}: {bad}/{len(pages)} mismatches")
        total_bad += bad
    print("TOTAL", total_bad)
    return 1 if total_bad else 0


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sys.exit(main(n, seed))
