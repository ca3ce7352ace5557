"""Scale rehearsals: one entry point, one report.

    python tools/rehearse.py soak|lifecycle|scale_ladder [--docs N] [--base DIR]

- ``soak``: ``sources.synth_interleaved(seed=42)`` -> ``operators.extract``
  (ArticleExtractor); quarantines, output spans and the full-output
  digest must equal SOAK, recorded at that size.
- ``lifecycle``: a v1 ``jobs/run_pipeline.py`` build with every gate on
  (:func:`check_invariants`), then CRAWLS incremental crawls of 2% exact,
  2% near and 6% novel docs of ``--docs`` through the same job, each
  graded per class, keep-set checked and index roll checked.
- ``scale_ladder``: the dedup / similarity / packing families at
  ``--docs``, ``--docs``/10, ... down to 500 docs, each hash-compared
  to its DuckDB oracle.

Prints one JSON line per step, then ``{"scenario", "docs", "wall_s",
"bad"}``; exits 1 when ``bad`` is non-empty.  Corpora are cached under
``--base``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

DEFAULT_DOCS = {"soak": 500_000, "lifecycle": 500_000, "scale_ladder": 50_000}
# --docs -> (quarantined, output spans, digest), digest =
# bit_xor(xxhash64(doc_id, title, spans, error)); see soak_counts
SOAK = {500_000: (33_139, 1_084_963, 8471421662831331978)}

CRAWLS = 2
V1_BUCKETS, CRAWL_BUCKETS = 32, 8
DUP_SPAN_FRAC = 0.6
PIPELINE_GATES = [
    "--drop-bottom-quality-pct", "5",
    "--max-dup-span-frac", str(DUP_SPAN_FRAC),
    "--scrub-pii", "--scrub-dup-spans",
    "--emit-chunks", "--pack-sequences", "--emit-dedup-index",
]
BOILER_SPAN_TOKENS, BOILER_FILLER = 20, 60
V1_BOILER_PAIRS, CRAWL_BOILER_PAIRS = 100, 25


def emit(rec: dict) -> None:
    print(json.dumps(rec, default=str), flush=True)


def failed(prefix: str, rec: dict) -> list[str]:
    """The keys of ``rec`` whose value is ``False``, as ``prefix:key``."""
    return [f"{prefix}:{k}" for k, v in rec.items() if v is False]


def xor_hash(df):
    """bit_xor of xxhash64 over every column of ``df``: reads every
    value Spark-side without collecting (a bare count() lets Catalyst
    prune whole joins; sum() of xxhash64 overflows under ANSI)."""
    from pyspark.sql import functions as F

    return F.bit_xor(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]))


def doc_ids(df) -> set:
    return {r[0] for r in df.select("doc_id").collect()}


def checksum(df) -> tuple[int, int]:
    """(rows, :func:`xor_hash`) of ``df``."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)), xor_hash(df)).collect()[0]
    return int(r[0]), int(r[1] or 0)


# ---- soak ------------------------------------------------------------


def soak_counts(out) -> tuple[int, int, int]:
    """(quarantined docs, output spans, :func:`xor_hash`) of an
    extraction output (``sources.OUTPUT_SCHEMA``), in one job."""
    from pyspark.sql import functions as F

    r = out.agg(
        F.count("error"), F.sum(F.size("spans")), xor_hash(out)
    ).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def soak(spark, n_docs: int) -> tuple[int, int, int]:
    from boilerpipe_coffee_spark.operators import extract
    from boilerpipe_coffee_spark.sources import synth_interleaved

    return soak_counts(extract(synth_interleaved(spark, n_docs, seed=42)))


def run_soak(spark, n_docs: int, base: str) -> list[str]:
    got = soak(spark, n_docs)
    want = SOAK.get(n_docs)
    emit({"quarantined": got[0], "spans": got[1], "digest": got[2],
          "recorded": want})
    return ["soak:counts_differ"] if want and got != want else []


# ---- corpora ---------------------------------------------------------


def make_corpus(base: str, n_docs: int, n_vecs: int) -> str:
    from make_scale_corpus import corpus_current, write_corpus

    d = os.path.join(base, "corpus", f"d{n_docs}_v{n_vecs}")
    if not corpus_current(d):
        write_corpus(d, n_docs, n_vecs)
        emit({"generated": d})
    return d


def wrap_interleaved(spark, doc_dirs: "list[str]", out_dir: str) -> str:
    """documents.parquet files -> one interleaved table, one text span of
    minimal HTML per doc.  The text re-emerges verbatim from extraction,
    so every later stage sees exactly the corpus distribution."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        *[os.path.join(d, "documents.parquet") for d in doc_dirs]
    ).select("doc_id", "text")
    html = F.concat(
        F.lit("<html><body><p>"), "text", F.lit("</p></body></html>")
    )
    span = F.struct(
        F.lit("text").alias("kind"), html.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(span).alias("spans"),
    ).write.mode("overwrite").parquet(out_dir)
    return out_dir


def run_pipeline(in_dir: str, out_dir: str, buckets: int, *extra) -> dict:
    """One ``jobs/run_pipeline.py`` run with PIPELINE_GATES; returns its
    summary line plus ``job_wall_sec``.  Driver memory follows
    ``SPARK_GRAFT_DRIVER_MEM`` (12g default, as ``plans.get_spark``)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = str(REPO) + os.pathsep + env.get("PYTHONPATH", "")
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {env.get('SPARK_GRAFT_DRIVER_MEM', '12g')} "
        "--conf spark.sql.shuffle.partitions=128 "
        "--conf spark.cleaner.periodicGC.interval=30s pyspark-shell"
    )
    cmd = [
        sys.executable, str(REPO / "jobs" / "run_pipeline.py"),
        "--input", in_dir, "--output", out_dir, "--buckets", str(buckets),
        "--checkpoint-dir", out_dir + "_ckpt", *PIPELINE_GATES, *extra,
    ]
    t0 = time.time()
    proc = subprocess.run(
        cmd, cwd=str(REPO), capture_output=True, text=True, env=env,
        timeout=7200,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        print(proc.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"run_pipeline failed rc={proc.returncode}")
    summary = json.loads(lines[-1])
    summary["job_wall_sec"] = round(time.time() - t0, 1)
    return summary


# ---- lifecycle -------------------------------------------------------


def boilerplate(n_pairs: int, reuse_spans: "list[str]", seed: int):
    """Boilerplate-bearing docs over the corpus vocabulary.  Each of
    ``n_pairs`` pairs shares a fresh 20-token span (duplicated inside
    this version, so the splice removes it); each span of
    ``reuse_spans`` goes into one doc (duplicated only against prior
    versions: spliced through the index's rolled gram list).  Returns
    ``(texts, new spans)``."""
    import numpy as np

    from make_scale_corpus import VOCAB

    rng = np.random.RandomState(seed)

    def words(n):
        return [VOCAB[i] for i in rng.randint(0, len(VOCAB), n)]

    def doc(span):
        filler, half = words(BOILER_FILLER), BOILER_FILLER // 2
        return " ".join(filler[:half] + [span] + filler[half:])

    spans = [" ".join(words(BOILER_SPAN_TOKENS)) for _ in range(n_pairs)]
    texts = [doc(s) for s in spans for _ in range(2)]
    return texts + [doc(s) for s in reuse_spans], spans


def write_docs(d: str, ids: list, texts: "list[str]") -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": ids, "text": texts}),
        os.path.join(d, "documents.parquet"),
    )
    return d


def check_invariants(corpus_dir: str, out_dir: str, summary: dict) -> dict:
    """Keep-set invariants over a build's materialized outputs: gates
    hold row by row, content hashes are unique, chunk and packed-bin
    counts equal their closed forms, and the planted near-dup pairs
    collapse."""
    import duckdb

    from boilerpipe_coffee_spark.operators.textstats import CONTEXT_LEN
    from make_scale_corpus import read_planted

    training = f"read_parquet('{out_dir}/training/*.parquet')"
    with duckdb.connect() as con:
        # n_tokens is post-splice; the 30-token floor is a pre-splice
        # admission gate, rebuilt from the lineage column
        row = con.sql(
            "SELECT count(*), count(DISTINCT content_hash), "
            "min(n_tokens + coalesce(dup_span_removed_tokens, 0)), "
            "max(dup_bigram_frac), sum(n_tokens), "
            f"sum(CAST(ceil(n_tokens / {float(CONTEXT_LEN)}) AS BIGINT)) "
            f"FROM {training}"
        ).fetchone()
        sql = f"SELECT doc_id FROM {training}"
        kept_ids = {int(r[0]) for r in con.sql(sql).fetchall()}
    pairs = read_planted(corpus_dir)["doc_pairs"]
    both = sum(1 for s, t in pairs if s in kept_ids and t in kept_ids)
    return {
        "kept_rows": row[0],
        "kept_matches_summary": row[0] == summary["kept"],
        "content_hash_unique": row[1] == row[0],
        "min_tokens_ok": row[2] >= 30,
        "max_dup_bigram_ok": row[3] <= 0.9,
        "total_training_tokens": int(row[4]),
        "chunks_match_closed_form": summary.get("chunks") == row[5],
        "packed_bins_match_closed_form": (
            summary.get("packed_bins") == -(-int(row[4]) // CONTEXT_LEN)
        ),
        # both members kept = an LSH miss the dup-span gate did not sweep
        "planted_pairs": len(pairs),
        "planted_both_kept": both,
    }


def build_batch(prior_out: str, d: str, v: int, n_docs: int,
                spans: "list[str]") -> "list[str]":
    """Crawl v's batch as <d>/documents.parquet: 2% of ``n_docs`` exact
    re-fetches of prior keepers, 2% near re-fetches (two token positions
    rewritten, the make_scale_corpus edit shape), 6% novel docs, and
    fresh boilerplate pairs plus one doc per prior span.  The class is
    the doc_id prefix (e/n/x/b).  Returns every boilerplate span so far."""
    import duckdb
    import numpy as np

    from make_scale_corpus import VOCAB, make_documents

    n_exact = n_near = n_docs * 2 // 100
    src = duckdb.sql(
        "SELECT text FROM read_parquet('"
        + os.path.join(prior_out, "training", "*.parquet")
        + f"') ORDER BY doc_id LIMIT {n_exact + n_near}"
    ).fetchall()
    assert len(src) == n_exact + n_near, len(src)
    rng = np.random.default_rng(778 + 100 * v)
    near = []
    for (t,) in src[n_exact:]:
        words = t.split()
        i, j = rng.integers(len(VOCAB), size=2)
        words[2], words[-3] = VOCAB[i], VOCAB[j]
        near.append(" ".join(words))
    novel = make_documents(n_docs * 6 // 100, seed=777 + v)[0]
    boiler, new = boilerplate(
        CRAWL_BOILER_PAIRS, spans[:CRAWL_BOILER_PAIRS], seed=4242 + v
    )
    ids, texts = [], []
    for cls, docs in (
        ("e", [t for (t,) in src[:n_exact]]), ("n", near),
        ("x", novel.column("text").to_pylist()), ("b", boiler),
    ):
        ids += [f"{cls}{v}{i:05d}" for i in range(len(docs))]
        texts += docs
    write_docs(d, ids, texts)
    return new + spans


def grade(spark, batch_dir: str, out_dir: str, prior_out: str,
          summary: dict) -> dict:
    """Per-class probe decisions (the operator the job calls) and
    per-class training rows, against the batch's planted classes."""
    from pyspark.sql import functions as F

    from boilerpipe_coffee_spark.operators.dedup import probe_dedup_index

    batch = spark.read.parquet(os.path.join(batch_dir, "documents.parquet"))
    exact = F.col("exact_dup_of") != F.lit("-1")
    near = ~exact & (F.col("near_dup_of") != F.lit("-1"))
    cls = F.substring("doc_id", 1, 1).alias("cls")
    per = {
        r["cls"]: r.asDict()
        for r in probe_dedup_index(
            spark, batch, os.path.join(prior_out, "dedup_index")
        ).groupBy(cls).agg(
            F.count("*").alias("n"),
            F.sum(exact.cast("int")).alias("exact_hits"),
            F.sum(near.cast("int")).alias("near_hits"),
        ).collect()
    }
    kept = {
        r["cls"]: r["count"]
        for r in spark.read.parquet(os.path.join(out_dir, "training"))
        .groupBy(cls).count().collect()
    }
    near_recall = per["n"]["near_hits"] / per["n"]["n"]
    return {
        "per_class": per,
        "kept_by_class": kept,
        "exact_all_caught": per["e"]["exact_hits"] == per["e"]["n"],
        "near_recall": round(near_recall, 4),
        "near_recall_ok": near_recall >= 0.75,
        "novel_exact_fp_zero": per["x"]["exact_hits"] == 0,
        "novel_near_fp": per["x"]["near_hits"],
        "no_exact_refetch_kept": kept.get("e", 0) == 0,
        # probe classes are disjoint: the job's counters must equal
        # the graded sums exactly
        "job_counts_consistent": all(
            summary[f"incr_{k}_dup"]
            == sum(p[f"{k}_hits"] for p in per.values())
            for k in ("exact", "near")
        ),
    }


def expected_keep_set(
    spark, v2_out: str, v1_out: str, dup_span_frac: float
) -> "set[str]":
    """Operator-level recomputation of the v2 job's keep decisions:
    the same shared operators, invoked directly, in the documented
    stage order (probe -> quality gate -> exact -> near-dup ->
    dup-span).  Scrub does not change membership (it rewrites text
    after the last gate)."""
    from pyspark.sql import functions as F

    from boilerpipe_coffee_spark.operators.dedup import probe_dedup_index
    from boilerpipe_coffee_spark.operators.pretrain import (
        content_features, near_dup_keep, quality_gate,
    )
    from boilerpipe_coffee_spark.operators.textstats import dup_span_frac_df

    extracted = spark.read.parquet(os.path.join(v2_out, "extract", "data"))
    features = content_features(extracted)

    decisions = probe_dedup_index(
        spark, features.select("doc_id", "text"),
        os.path.join(v1_out, "dedup_index"),
    )
    features = features.join(
        decisions.filter(F.col("keep")).select("doc_id"), "doc_id",
        "left_semi",
    ).persist()

    features, _thr = quality_gate(features, 5)
    exact_kept = features.filter(F.col("keep")).count()
    training = near_dup_keep(features, n_docs=exact_kept).filter(
        F.col("keep_final")
    )
    flagged = (
        dup_span_frac_df(training.select("doc_id", "text"))
        .filter(F.col("dup_frac") > dup_span_frac)
        .select("doc_id")
    )
    keep = doc_ids(training.join(flagged, "doc_id", "left_anti"))
    features.unpersist()
    return keep


def check_index_roll(
    spark, all_outs: "list[str]", rolled_out: str, base: str
) -> dict:
    """The index the JOB rolled forward must checksum-equal a fresh
    build over EVERY version's keepers so far (the whole corpus, not
    just the last two batches) at the frozen banding."""
    from boilerpipe_coffee_spark.operators.dedup import (
        build_dedup_index, read_index_meta,
    )

    def read(o: str, sub: str):
        return spark.read.parquet(os.path.join(o, sub))

    v1_meta = read_index_meta(os.path.join(all_outs[0], "dedup_index"))
    union_docs = functools.reduce(
        lambda a, b: a.unionByName(b),
        [read(o, "training").select("doc_id", "text") for o in all_outs],
    )
    fresh_dir = os.path.join(base, "idx_fresh_union")
    t0 = time.time()
    build_dedup_index(
        union_docs, fresh_dir,
        banding=tuple(v1_meta["banding"]),
        scrubbed=v1_meta.get("scrubbed", False),
    )
    rec: dict = {"fresh_union_build_sec": round(time.time() - t0, 2)}

    def table(d: str, sub: str):
        return checksum(read(d, sub))

    rolled = os.path.join(rolled_out, "dedup_index")
    for sub in ("hashes", "bands", "band_counts"):
        got, want = table(rolled, sub), table(fresh_dir, sub)
        rec[f"{sub}_equal"] = got == want
        rec[f"{sub}_rows"] = got[0]
    v2_meta = read_index_meta(rolled)
    rec["n_docs_v2"] = v2_meta["n_docs"]
    rec["banding_stale"] = v2_meta["banding_stale"]
    rec["scrubbed"] = v2_meta.get("scrubbed", False)
    rec["dup_span_scrubbed"] = v2_meta.get("dup_span_scrubbed", False)
    if rec["dup_span_scrubbed"]:
        # the rolled boilerplate list must equal its independent
        # recomputation: the UNION over versions of dup_grams_df on
        # each version's PRE-splice keep-set text (extract output
        # filtered to that version's training ids -- gates drop rows
        # but never rewrite text, and the splice runs after the gram
        # stage, so this replays exactly what the job hashed)
        from boilerpipe_coffee_spark.operators.pretrain import content_features
        from boilerpipe_coffee_spark.operators.textstats import dup_grams_df

        # extract output is span-structured; content_features is the
        # job's own spans -> flat text derivation
        per_version = [
            dup_grams_df(
                content_features(read(o, os.path.join("extract", "data")))
                .select("doc_id", "text")
                .join(read(o, "training"), "doc_id", "left_semi")
            )
            for o in all_outs
        ]
        want_g = functools.reduce(
            lambda a, b: a.unionByName(b), per_version
        ).distinct()
        got_g = table(rolled, "dup_grams")
        rec["dup_grams_equal"] = got_g == checksum(want_g.select("g"))
        rec["dup_grams_rows"] = got_g[0]
    return rec


def run_lifecycle(spark, n_docs: int, base: str) -> list[str]:
    shutil.rmtree(base, ignore_errors=True)
    corpus = make_corpus(os.path.dirname(base), n_docs, 100)
    # planted boilerplate pairs (int ids past the corpus range): LSH
    # collapses whole-doc near-dups and the drop gate span-heavy docs,
    # so without them the splice would see an empty keep-set
    boiler, spans = boilerplate(V1_BOILER_PAIRS, [], seed=4242)
    extra = write_docs(
        os.path.join(base, "v1_boiler"),
        [10_000_000 + k for k in range(len(boiler))], boiler,
    )
    v1_in = wrap_interleaved(spark, [corpus, extra], base + "/v1_in")
    prior = os.path.join(base, "v1_out")
    s = run_pipeline(v1_in, prior, V1_BUCKETS)
    inv = check_invariants(corpus, prior, s)
    inv["boiler_scrubbed_ok"] = s["dup_span_scrubbed_docs"] >= V1_BOILER_PAIRS
    emit({"v1_summary": s, "v1_invariants": inv})
    bad = failed("v1", inv)

    outs = [prior]
    for v in range(2, CRAWLS + 2):
        crawl = os.path.join(base, f"crawl_v{v}")
        batch = os.path.join(crawl, "docs")
        spans = build_batch(prior, batch, v, n_docs, spans)
        vin = wrap_interleaved(spark, [batch], os.path.join(crawl, "in"))
        vout = os.path.join(base, f"v{v}_out")
        s = run_pipeline(vin, vout, CRAWL_BUCKETS, "--incremental", prior)
        g = grade(spark, batch, vout, prior, s)
        g["boiler_scrubbed_ok"] = (
            s["dup_span_scrubbed_docs"] >= CRAWL_BOILER_PAIRS
        )
        want = expected_keep_set(spark, vout, prior, DUP_SPAN_FRAC)
        got = doc_ids(spark.read.parquet(os.path.join(vout, "training")))
        g["keep_set_equal"] = got == want
        g["only_in_job"] = sorted(got - want)[:10]
        g["only_in_operators"] = sorted(want - got)[:10]
        outs.append(vout)
        roll = check_index_roll(spark, outs, vout, crawl)
        emit({f"v{v}_summary": s, f"v{v}_grades": g, f"v{v}_index_roll": roll})
        bad += failed(f"v{v}", g) + failed(
            f"v{v}", {k: x for k, x in roll.items() if k.endswith("_equal")}
        )
        prior = vout
    return bad


# ---- scale ladder ----------------------------------------------------


def ladder(n_docs: int) -> "list[tuple[int, int]]":
    """(docs, vectors) points: n_docs, n_docs/10, ... down to 500."""
    pts = []
    while n_docs >= 500 or not pts:
        pts.append((n_docs, max(500, n_docs * 2 // 5)))
        n_docs //= 10
    return pts[::-1]


def compare(sdf, con, sql: str, t0: float) -> dict:
    """Spark rows vs the DuckDB oracle, through driver_sim._value_hash
    (pandas on the DuckDB side, as driver_sim compares)."""
    from driver_sim import _value_hash

    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    spark_sec = time.time() - t0
    t0 = time.time()
    pdf = con.sql(sql).df()
    d_rows = [
        tuple(x.item() if hasattr(x, "item") else x for x in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    d_cols = list(pdf.columns)
    return {
        "spark_rows": len(s_rows),
        "oracle_rows": len(d_rows),
        "hash_match": sorted(s_cols) == sorted(d_cols)
        and _value_hash(s_cols, s_rows) == _value_hash(d_cols, d_rows),
        "spark_sec": round(spark_sec, 2),
        "oracle_sec": round(time.time() - t0, 2),
    }


def run_point(spark, con, d: str, n_docs: int, n_vecs: int) -> list[dict]:
    """Every family at one point, against oracles generated through the
    same banding policies the operators use; LSH pair families also
    report recall of the corpus's planted pairs."""
    from boilerpipe_coffee_spark.operators import dedup, similarity, textstats
    from make_scale_corpus import read_planted

    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    families = [
        (dedup.dedup_minhash_lsh, dedup._minhash_lsh_sql(n_docs)),
        (dedup.dedup_minhash_verified,
         dedup._minhash_verified_sql(n_rows=n_docs)),
        (dedup.dedup_simhash_pairs, dedup.DEDUP_SIMHASH_PAIRS_SQL),
        (dedup.dedup_clusters, dedup._clusters_sql(n_docs)),
        (similarity.dedup_embedding_lsh_pairs,
         similarity._emb_lsh_pairs_sql(n_rows=n_vecs)),
        (textstats.pack_concat_split, textstats.PACK_CONCAT_SPLIT_SQL),
        (textstats.dup_span_stats, textstats.DUP_SPAN_SQL),
        (dedup.minhash_band_stats, dedup._minhash_band_stats_sql(n_docs)),
        (dedup.simhash_chunk_stats, dedup.SIMHASH_CHUNK_STATS_SQL),
        (similarity.emb_bucket_stats,
         similarity._emb_bucket_stats_sql(n_rows=n_vecs)),
    ]
    planted = read_planted(d)
    truth = {
        "dedup_minhash_lsh": [tuple(p) for p in planted["doc_pairs"]],
        "dedup_embedding_lsh_pairs": [
            tuple(p[:2]) for p in planted["vec_pairs"]
        ],
    }
    out = []
    for fn, sql in families:
        name = fn.__name__
        rec = {
            "point": os.path.basename(d), "family": name,
            "minhash_banding": dedup.minhash_banding(n_docs),
            "emb_banding": similarity.emb_banding(n_vecs), "err": None,
        }
        try:
            # timed from the fn() call: iterative operators
            # (dedup_clusters) do their work in eager checkpoints
            t0 = time.time()
            sdf = fn(spark, d)
            rec.update(compare(sdf, con, sql, t0))
            if name in truth:
                got = {tuple(r) for r in sdf.select(sdf.columns[:2]).collect()}
                rec["planted_recall"] = [
                    sum(p in got for p in truth[name]), len(truth[name])
                ]
        except Exception as exc:  # noqa: BLE001 -- reported in bad
            rec["err"] = f"{type(exc).__name__}: {exc}"[:400]
        emit(rec)
        out.append(rec)
    return out


def run_scale_ladder(spark, n_docs: int, base: str) -> list[str]:
    import duckdb

    bad = []
    for nd, nv in ladder(n_docs):
        d = make_corpus(os.path.dirname(base), nd, nv)
        with duckdb.connect() as con:
            recs = run_point(spark, con, d, nd, nv)
        bad += [
            f"{r['point']}:{r['family']}"
            for r in recs
            if r["err"] or not r.get("hash_match")
        ]
    return bad


SCENARIOS = {
    "soak": run_soak,
    "lifecycle": run_lifecycle,
    "scale_ladder": run_scale_ladder,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("scenario", choices=SCENARIOS)
    ap.add_argument("--docs", type=int, help=f"default {DEFAULT_DOCS}")
    ap.add_argument("--base", default="/tmp/rehearse")
    args = ap.parse_args(argv)
    n_docs = args.docs or DEFAULT_DOCS[args.scenario]

    from boilerpipe_coffee_spark.plans import get_spark

    spark = get_spark(app_name=f"rehearse-{args.scenario}")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    try:
        bad = SCENARIOS[args.scenario](
            spark, n_docs, os.path.join(args.base, f"{args.scenario}{n_docs}")
        )
    finally:
        spark.stop()
    emit({"scenario": args.scenario, "docs": n_docs,
          "wall_s": round(time.time() - t0, 1), "bad": bad})
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
