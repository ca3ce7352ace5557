"""Deterministic synthetic corpora for the scale rehearsals
(tools/rehearse.py): documents + embeddings tables with the
SAME shape as the driver-generated /root/testdata sf corpora
(TESTDATA.md), at any row count -- so candidate-ratio curves can be
measured on a consistent ladder up to sf1 (50k docs / 20k vectors),
10x beyond the largest committed corpus.

Distribution model (measured on /root/testdata/sf0.1):
- documents: 31-word vocabulary, uniform token draw, doc length
  uniform 10..100 words (mean ~54), lang weighted like the committed
  corpus, source = src{i % 20}, n_chars = len(text).  0.5%% of docs
  are PLANTED near-duplicates (a copy of an earlier doc with two
  token positions rewritten) so LSH recall stays measurable at every
  scale; the tiny vocabulary also produces organic shingle collisions
  exactly like the driver corpus.
- embeddings: 64-dim unit-norm gaussian vectors; 1.5%% are planted
  perturbations of an earlier vector with cosine in ~[0.45, 0.93]
  (the committed corpus shows a comparable high-cosine tail: 144
  pairs >= 0.45 among its 2000 sf0.1 vectors); label uniform 0..9.

Usage:
    python tools/make_scale_corpus.py --out /tmp/scale/sf1 \
        --docs 50000 --vecs 20000 [--seed 42]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_P = [0.412, 0.140, 0.151, 0.148, 0.149]
N_SOURCES = 20
DIM = 64
NEAR_DUP_DOC_FRAC = 0.005
NEAR_DUP_VEC_FRAC = 0.015


def make_documents(
    n_docs: int, seed: int = 42
) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Returns ``(table, planted)`` where ``planted`` is the list of
    (src, tgt) near-dup pairs ACTUALLY written -- recorded at the
    plant site itself (ADVICE r6: a separate re-derivation of the
    placement arithmetic silently skipped the ``len(words) >= 8``
    guard, which only happened to never fire at the current length
    distribution).  Ground truth for recall measurement flows from
    here through the ``_PLANTED.json`` sidecar."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n_docs)
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n_docs):
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), lengths[i])]))
    # planted near-duplicates: doc i copies doc i - step with two
    # token positions rewritten (deterministic positions/words)
    n_planted = int(n_docs * NEAR_DUP_DOC_FRAC)
    step = max(n_docs // (n_planted + 1), 1)
    planted: list[tuple[int, int]] = []
    for j in range(n_planted):
        tgt = (j + 1) * step
        src = tgt - 1
        if tgt >= n_docs:
            break
        words = texts[src].split()
        if len(words) >= 8:
            words[2] = vocab[rng.integers(0, len(VOCAB))]
            words[-3] = vocab[rng.integers(0, len(VOCAB))]
            texts[tgt] = " ".join(words)
            planted.append((src, tgt))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, planted


def make_embeddings(
    n_vecs: int, seed: int = 43
) -> tuple[pa.Table, list[tuple[int, int, float]]]:
    """Returns ``(table, planted)``; each planted entry is
    ``(src, tgt, cosine)`` with the EXACT post-normalization cosine --
    recorded at the plant site so per-band recall can be stratified
    without re-deriving the placement (ADVICE r6)."""
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n_vecs, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    n_planted = int(n_vecs * NEAR_DUP_VEC_FRAC)
    step = max(n_vecs // (n_planted + 1), 1)
    planted: list[tuple[int, int, float]] = []
    for j in range(n_planted):
        tgt = (j + 1) * step
        src = tgt - 1
        if tgt >= n_vecs:
            break
        # perturb along a UNIT random direction: cosine ~
        # 1/sqrt(1+eps^2) (direction ~orthogonal to u in high dim);
        # eps in [0.33, 1.5] lands the pair in the ~[0.55, 0.95]
        # near-dup band.  (A raw sigma*g perturbation has norm
        # ~sigma*sqrt(DIM), which at dim 64 pushed 'near-dups' down
        # to cosine ~0.1-0.3 -- caught by the rehearsal's recall
        # column reading 0.)
        eps = 0.33 + 1.17 * rng.random()
        g = rng.standard_normal(DIM)
        p = v[src] + eps * (g / np.linalg.norm(g))
        v[tgt] = p / np.linalg.norm(p)
        planted.append((src, tgt, float(v[src] @ v[tgt])))
    labels = rng.integers(0, 10, size=n_vecs)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(
                [row for row in v.astype(np.float32)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    return table, planted


# v3: identical table bytes to v2 (same rng draws), adds the
# _PLANTED.json ground-truth sidecar (pairs recorded at the plant
# site, with exact cosines for the embedding pairs)
CORPUS_VERSION = "v3"


def write_corpus(out_dir: str, n_docs: int, n_vecs: int, seed: int = 42):
    import json

    os.makedirs(out_dir, exist_ok=True)
    docs, doc_pairs = make_documents(n_docs, seed)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    vecs, vec_pairs = make_embeddings(n_vecs, seed + 1)
    pq.write_table(vecs, os.path.join(out_dir, "embeddings.parquet"))
    with open(os.path.join(out_dir, "_PLANTED.json"), "w") as f:
        json.dump(
            {
                "doc_pairs": [list(p) for p in doc_pairs],
                "vec_pairs": [
                    [s, t, round(c, 6)] for s, t, c in vec_pairs
                ],
            },
            f,
        )
    with open(os.path.join(out_dir, "_VERSION"), "w") as f:
        f.write(CORPUS_VERSION)
    return out_dir


def read_planted(out_dir: str) -> dict:
    """Load the ground-truth sidecar written by :func:`write_corpus`."""
    import json

    with open(os.path.join(out_dir, "_PLANTED.json")) as f:
        return json.load(f)


def corpus_current(out_dir: str) -> bool:
    try:
        with open(os.path.join(out_dir, "_VERSION")) as f:
            return f.read().strip() == CORPUS_VERSION
    except OSError:
        return False


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--vecs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    write_corpus(args.out, args.docs, args.vecs, args.seed)
    print(f"wrote {args.out}: {args.docs} docs, {args.vecs} vectors")


if __name__ == "__main__":
    main()
