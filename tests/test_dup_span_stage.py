"""run_pipeline --max-dup-span-frac (round 7): a planted corpus with
a shared boilerplate block in half the docs goes through the FULL job
and exactly the boilerplate-heavy docs must be dropped.

The corpus is built with per-doc-unique vocabulary (no natural
cross-doc n-grams), so the dup-span gate's decisions are fully
determined by the planted block: injected docs have
dup_frac ~ 49/129 ~ 0.38, clean docs exactly 0.0 — a 0.2 threshold
separates them with a wide margin on both sides."""

import glob
import json
import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

from boilerpipe_coffee_spark.sources import INTERLEAVED_SCHEMA

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "run_pipeline.py")

N_DOCS = 40
N_INJECTED = 20
BOILER = " ".join(f"boilerqq{i}" for i in range(60))
# training/ columns of a near-dup run with --scrub-dup-spans
UNGATED_COLS = [
    "doc_id", "title", "n_media", "dup_bigram_frac", "content_hash",
    "cluster_id", "text", "n_tokens", "dup_span_removed_tokens",
]


def _corpus_rows():
    rows = []
    for i in range(N_DOCS):
        own = " ".join(f"d{i}w{j}" for j in range(80))
        text = f"{BOILER} {own}" if i < N_INJECTED else own
        html = f"<html><body><p>{text}</p></body></html>"
        rows.append((f"d{i:04d}", [("text", html, None, 0)]))
    return rows


def _run_job(spark, tmp_path_factory, name, *flags):
    """The planted corpus through the full job -> (summary, out dir)."""
    base = tmp_path_factory.mktemp(name)
    in_dir = str(base / "input")
    out = str(base / "out")
    spark.createDataFrame(_corpus_rows(), INTERLEAVED_SCHEMA).write.parquet(
        in_dir
    )

    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [
            sys.executable, JOB, "--input", in_dir, "--output", out,
            "--buckets", "4", *flags,
        ],
        cwd=REPO, capture_output=True, text=True, timeout=900, env=env,
    )
    lines = [
        l for l in proc.stdout.strip().splitlines() if l.startswith("{")
    ]
    assert lines, (
        f"no summary JSON; rc={proc.returncode} "
        f"stderr tail: {proc.stderr[-2000:]}"
    )
    return json.loads(lines[-1]), out


def test_pipeline_dup_span_scrub_e2e(spark, tmp_path_factory):
    """--scrub-dup-spans: the same planted corpus goes through the
    full job, but instead of dropping boilerplate-heavy docs the
    shared block is SPLICED OUT of their text.  No rows drop; the
    injected docs keep exactly their own 80 unique words (bytes
    preserved); n_tokens is the post-scrub count."""
    s, out = _run_job(
        spark, tmp_path_factory, "dupspan_scrub_stage",
        "--scrub-dup-spans", "--no-near-dup",
    )

    assert s["extracted"] == N_DOCS and s["quarantined"] == 0
    # scrub never drops rows
    assert s["kept"] == N_DOCS, s
    assert s["dup_span_scrubbed_docs"] == N_INJECTED, s
    # the block is 60 tokens; only windows fully inside it are
    # duplicated (straddles mix per-doc vocab) and their union covers
    # exactly the block in each injected doc
    assert s["dup_span_scrubbed_tokens"] == N_INJECTED * 60, s
    assert "dup_span_scrub" in s["stage_sec"]

    con = duckdb.connect()
    training = f"read_parquet('{out}/training/*.parquet')"
    n_boiler = con.sql(
        f"SELECT count(*) FROM {training} WHERE text LIKE '%boilerqq%'"
    ).fetchone()[0]
    assert n_boiler == 0
    # every doc (injected or clean) now carries exactly its 80 own
    # words, and n_tokens reflects the POST-scrub text
    bad = con.sql(
        f"SELECT count(*) FROM {training} WHERE n_tokens != 80"
    ).fetchone()[0]
    assert bad == 0
    # lineage column: pre-scrub admission count reconstructs exactly
    removed = con.sql(
        f"SELECT sum(dup_span_removed_tokens) FROM {training}"
    ).fetchone()[0]
    assert removed == N_INJECTED * 60
    head_tail = con.sql(
        f"SELECT count(*) FROM {training} t WHERE "
        "t.text NOT LIKE 'd%w0 %' OR t.text NOT LIKE '%w79'"
    ).fetchone()[0]
    assert head_tail == 0
    con.close()


def test_pipeline_dup_span_gate_e2e(spark, tmp_path_factory):
    s, out = _run_job(
        spark, tmp_path_factory, "dupspan_stage",
        "--max-dup-span-frac", "0.2",
        # isolate the gate: the injected docs share only ~43% of
        # their tokens, but MinHash banding could still pair some
        # of them — stage 4 off keeps the drop attribution exact
        "--no-near-dup", "--emit-chunks",
    )

    assert s["extracted"] == N_DOCS and s["quarantined"] == 0
    assert s["dup_span_dropped"] == N_INJECTED, s
    assert s["kept"] == N_DOCS - N_INJECTED, s
    assert "dup_span_gate" in s["stage_sec"]

    con = duckdb.connect()
    training = f"read_parquet('{out}/training/*.parquet')"
    # no kept doc carries the boilerplate block
    n_boiler = con.sql(
        f"SELECT count(*) FROM {training} WHERE text LIKE '%boilerqq0 %'"
    ).fetchone()[0]
    assert n_boiler == 0
    # the kept set is exactly the clean docs
    kept_ids = {
        r[0] for r in con.sql(f"SELECT doc_id FROM {training}").fetchall()
    }
    assert kept_ids == {f"d{i:04d}" for i in range(N_INJECTED, N_DOCS)}
    # chunks were built from the gated keep-set only
    n_chunk_docs = con.sql(
        f"SELECT count(DISTINCT doc_id) FROM "
        f"read_parquet('{out}/chunks/*.parquet')"
    ).fetchone()[0]
    assert n_chunk_docs == N_DOCS - N_INJECTED
    con.close()


def test_pipeline_gated_training_lands_one_file_per_bucket(
    spark, tmp_path_factory
):
    """Near-dup ON with the quality gate, the 4c gate and the 4d
    splice: the keep-set those stages pin must still land at most one
    file per doc_id bucket (run_pipeline.N_OUT_BUCKETS = 8), its rows
    are exactly the spliced planted docs, and its columns are those of
    the same run without the quality gate.  Dropping the bottom 0%
    keeps every document, so the gate changes no row."""
    s, out = _run_job(
        spark, tmp_path_factory, "dupspan_both",
        "--max-dup-span-frac", "0.6", "--scrub-dup-spans",
        "--drop-bottom-quality-pct", "0",
    )
    assert "quality_gate" in s["stage_sec"], s
    files = glob.glob(os.path.join(out, "training", "*.parquet"))
    assert 0 < len(files) <= 8, len(files)

    # the training/ schema of this flag set without the quality gate
    cols = pq.read_schema(files[0]).names
    assert cols == UNGATED_COLS, cols

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text, n_tokens, dup_span_removed_tokens FROM "
        f"read_parquet('{out}/training/*.parquet') ORDER BY doc_id"
    ).fetchall()
    con.close()
    # no doc crosses 0.6; MinHash pairs some injected docs through the
    # shared block (seeded, so the same ones every run) and the kept
    # injected docs lose exactly the block
    near_dups = {3, 4, 7, 10, 12, 13, 14, 15, 16, 17, 18}
    want = [
        (
            f"d{i:04d}",
            " ".join(f"d{i}w{j}" for j in range(80)),
            80,
            60 if i < N_INJECTED else 0,
        )
        for i in range(N_DOCS)
        if i not in near_dups
    ]
    assert s["kept"] == len(rows)
    assert rows == want
