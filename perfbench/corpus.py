"""Benchmark inputs and reference outputs, made apart from the engine.

The corpus comes from ``fixtures.generate_doc`` in this process and is
written to parquet with pyarrow; Spark only ever sees the parquet.
Reference outputs come from the single-process path
(``spans.extract_spans``), run in a few fresh interpreters, and a
pure-Python mirror of the ``content_features`` gates.  Corpora are
cached under the checkout by (size, seed), written to a temporary name
first and renamed into place when complete.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import pickle
import re
import shutil
import subprocess
import sys
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq

IN_SPAN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
OUT_SPAN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("order", pa.int32()),
    ]
)
IN_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(IN_SPAN))])
OUT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("title", pa.string()),
        ("spans", pa.list_(OUT_SPAN)),
        ("error", pa.string()),
    ]
)

# One file per scan task: contiguous doc-index ranges, so every file
# carries the same mix of strata (strata cycle every 100 indices).
N_FILES = 8
ARTICLE = "ArticleExtractor"


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    giant_max: int

    def key(self, seed: int) -> str:
        return f"n{self.n_docs}-g{self.giant_max}-s{seed}"


def _atomic_dir(final: str, fill) -> str:
    """Create ``final`` by filling a temporary sibling and renaming it."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fill(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    n = table.num_rows
    for j in range(n_files):
        lo, hi = j * n // n_files, (j + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{j:03d}.parquet"))


def docs_table(docs: list[dict]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
            "spans": pa.array([d["spans"] for d in docs], pa.list_(IN_SPAN)),
        },
        schema=IN_SCHEMA,
    )


def materialize(cache: str, spec: CorpusSpec, seed: int) -> str:
    """Parquet directory holding the corpus (``N_FILES`` files)."""
    from boilerpipe_coffee_spark.fixtures import generate_doc

    def fill(out_dir: str) -> None:
        docs = [generate_doc(i, seed, spec.giant_max) for i in range(spec.n_docs)]
        _write_files(docs_table(docs), out_dir, N_FILES)

    return _atomic_dir(os.path.join(cache, "corpus", spec.key(seed)), fill)


# --- reference outputs (single-process extract_spans) -----------------


def _reference_chunk(lo: int, hi: int, seed: int, giant_max: int) -> list[tuple]:
    from boilerpipe_coffee_spark.fixtures import generate_doc
    from boilerpipe_coffee_spark.spans import extract_spans

    rows = []
    for i in range(lo, hi):
        doc = generate_doc(i, seed, giant_max)
        title, spans, error = extract_spans(doc["spans"], ARTICLE)
        rows.append((doc["doc_id"], title, spans, error))
    return rows


def reference_rows(spec: CorpusSpec, seed: int, workers: int, tmp: str) -> list[tuple]:
    """(doc_id, title, spans, error) per document, from extract_spans.
    Regenerates each document from the seed rather than reading the
    parquet the engine reads.  ``workers`` fresh interpreters each take
    one contiguous index range (every range holds the same strata mix)
    and pickle their rows to a file under ``tmp``; each is waited for,
    and killed if this call fails."""
    bounds = [k * spec.n_docs // workers for k in range(workers + 1)]
    procs = []
    try:
        for k in range(workers):
            out = os.path.join(tmp, f"reference-{k}.pickle")
            args = [bounds[k], bounds[k + 1], seed, spec.giant_max, out]
            procs.append((subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), *map(str, args)]
            ), out))
        rows = []
        for proc, out in procs:
            if proc.wait() != 0:
                raise RuntimeError(f"reference worker exited with {proc.returncode}")
            with open(out, "rb") as f:
                rows.extend(pickle.load(f))
            os.remove(out)
        return rows
    finally:
        for proc, _ in procs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def reference_table(rows: list[tuple]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.string()),
            "title": pa.array([r[1] for r in rows], pa.string()),
            "spans": pa.array([r[2] for r in rows], pa.list_(OUT_SPAN)),
            "error": pa.array([r[3] for r in rows], pa.string()),
        },
        schema=OUT_SCHEMA,
    )


# --- content_features mirror (corpus_build) ----------------------------

_NON_WORD = re.compile("[^a-z0-9]+")


def _round4(x: float) -> float:
    # Spark's round(double, 4): HALF_UP on the shortest decimal repr
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def content_reference(rows, min_tokens: int = 30, max_dup_bigram: float = 0.9) -> dict:
    """doc_id -> feature dict with the columns ``content_features``
    emits (keep flags included), for non-quarantined, non-empty docs."""
    feats = {}
    for doc_id, title, spans, error in rows:
        if error is not None:
            continue
        text = "\n".join(s["text"] for s in spans if s["kind"] == "text")
        if not text:
            continue
        toks = [t for t in _NON_WORD.split(text.lower()) if t]
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        dup = _round4((len(grams) - len(set(grams))) / max(len(grams), 1))
        feats[doc_id] = {
            "doc_id": doc_id,
            "title": title,
            "text": text,
            "n_media": sum(1 for s in spans if s["kind"] != "text"),
            "n_tokens": len(toks),
            "dup_bigram_frac": dup,
            "content_hash": hashlib.md5(text.encode()).hexdigest(),
            "passes_gates": len(toks) >= min_tokens and dup <= max_dup_bigram,
        }
    first: dict[str, str] = {}
    for doc_id in sorted(feats):
        first.setdefault(feats[doc_id]["content_hash"], doc_id)
    for doc_id, f in feats.items():
        f["is_canonical"] = first[f["content_hash"]] == doc_id
        f["keep"] = f["is_canonical"] and f["passes_gates"]
    return feats


# --- golden files (node-oracle outputs committed with the repo) --------


def load_jsonl_gz(path: str) -> list[dict]:
    with gzip.open(path, "rt") as f:
        return [json.loads(line) for line in f if line.strip()]


def fingerprint(root: str) -> str:
    """Hash of the engine sources and golden files: cache entries made
    from one tree are never read by another."""
    h = hashlib.md5()
    for base in ("boilerpipe_coffee_spark", os.path.join("tests", "golden")):
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, base)):
            dirnames.sort()
            for fn in sorted(filenames):
                if fn.endswith((".py", ".gz")):
                    path = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def golden(root: str, cache: str, name: str) -> tuple[str, dict]:
    """(parquet dir of the ``name`` docs, expected ArticleExtractor
    output by doc_id) for a committed golden corpus."""
    gdir = os.path.join(root, "tests", "golden")
    docs = load_jsonl_gz(os.path.join(gdir, f"{name}_docs.jsonl.gz"))
    expected = {
        g["doc_id"]: g for g in load_jsonl_gz(os.path.join(gdir, f"{name}_{ARTICLE}.jsonl.gz"))
    }
    path = _atomic_dir(
        os.path.join(cache, "golden", name),
        lambda d: _write_files(docs_table(docs), d, 4),
    )
    return path, expected


if __name__ == "__main__":  # one reference worker: lo hi seed giant_max out
    sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    lo, hi, seed, giant_max = map(int, sys.argv[1:5])
    with open(sys.argv[5] + ".tmp", "wb") as f:
        pickle.dump(_reference_chunk(lo, hi, seed, giant_max), f)
    os.replace(sys.argv[5] + ".tmp", sys.argv[5])
