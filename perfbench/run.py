#!/usr/bin/env python3
"""Repository benchmark: extraction and corpus-build workloads on Spark.

    python3 perfbench/run.py --workload extract_mixed --seed 42 --seconds 6 --trace 0

Runs one workload against the production engine on ``local[<cores>]``
(closed loop: one job in flight, driven from this process), checks every
output against the reference, and prints each metric as a line, then
one JSON object as the last line of stdout.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from a
separately traced run.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from dataclasses import dataclass
from time import perf_counter

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import corpus  # noqa: E402
import eventlog  # noqa: E402
import layers  # noqa: E402
import procstat  # noqa: E402

DEFAULT_SEED = 42
ARTICLE = corpus.ARTICLE
N_SETUPS = 3
SLICE_STRIDE = 3  # coprime with the 100-index strata cycle of the generator
OUT_COLS = ["doc_id", "title", "spans", "error"]
TRAIN_COLS = [
    "doc_id", "title", "text", "n_media", "n_tokens",
    "dup_bigram_frac", "content_hash", "cluster_id",
]
# jobs/run_pipeline.py defaults: --buckets 16, N_OUT_BUCKETS 8
EXTRACT_BUCKETS = 16
TRAINING_BUCKETS = 8


@dataclass(frozen=True)
class Workload:
    name: str
    spec: corpus.CorpusSpec
    pipeline: bool
    min_passes: int
    # untimed, checked passes between set-up and the timed window: the
    # JVM is still compiling the scan/Arrow/hash path for the first few
    # extraction passes, and a cold corpus_build pass takes 1.5-2x a
    # warm one and varies three times as much from run to run.
    warmup_passes: int


# extract_giant is not in BENCHMARK.json: three workloads do not fit the
# run budget there (see README.md); it stays runnable by name.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("extract_mixed", corpus.CorpusSpec(8000, 600), False, 3, 2),
        Workload("extract_giant", corpus.CorpusSpec(2000, 5000), False, 3, 2),
        Workload("corpus_build", corpus.CorpusSpec(600, 600), True, 1, 1),
    )
}

PIPELINE_STAGES = (
    "pipeline.run_partitioned",
    "pretrain.content_features",
    "pretrain.near_dup_keep",
    "sources.training_write",
)


class CheckFailed(Exception):
    pass


class Engine:
    """The Spark session under test and the JVM process tree behind it."""

    def __init__(self, work: str, cores: int):
        self.cores = cores
        self.spark = None
        self.conf = {
            # one input file = one scan task (the corpus is N_FILES files)
            "spark.sql.files.maxPartitionBytes": "256m",
            "spark.sql.files.openCostInBytes": "256m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        }

    def start(self, extra_conf: dict | None = None):
        from boilerpipe_coffee_spark.plans import get_spark

        self.conf.update(extra_conf or {})
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            # get_spark's 4x-cores default, from the cores actually used
            # rather than SPARK_GRAFT_CPUS
            shuffle_partitions=4 * self.cores,
            extra_conf=self.conf,
            periodic_gc=None,
            driver_memory="2g",
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the SparkContext (executor, Python daemon and workers);
        the JVM stays up for the next start()."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        from pyspark import SparkContext

        try:
            self.stop()
        finally:  # a failed stop still ends the JVM
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = gateway.proc
                gateway.shutdown()
                proc.stdin.close()  # the gateway server exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None


def digest(df, cols, errors: bool = False) -> list[int]:
    """[rows, bit_xor of xxhash64 over ``cols``(, rows with an error)]:
    one aggregate that reads every listed column of every row."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")]
    if errors:
        aggs.append(F.sum(F.col("error").isNotNull().cast("long")).alias("e"))
    row = df.agg(*aggs).collect()[0]
    return [int(v or 0) for v in row]


def golden_mismatches(rows, expected: dict) -> list[str]:
    got = {}
    for r in rows:
        spans = [s.asDict() for s in (r.spans or [])]
        got[r.doc_id] = {"title": r.title, "spans": spans, "error": r.error}
    bad = [d for d, exp in expected.items() if got.get(d) != {
        "title": exp["title"], "spans": exp["spans"], "error": exp["error"]}]
    bad += [d for d in got if d not in expected]
    if len(rows) != len(got):
        bad.append("<duplicate doc_id rows>")
    return bad


_T0 = perf_counter()


def log(msg: str) -> None:
    print(f"[{perf_counter() - _T0:7.2f} s] {msg}", file=sys.stderr, flush=True)


def median(vals):
    return float(statistics.median(vals))


class Bench:
    def __init__(self, wl: Workload, seed: int, seconds: float, trace: bool):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        state = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(state, "cache", corpus.fingerprint(ROOT))
        self.traces = os.path.join(state, "traces")
        self.work = os.path.join(state, "work", str(os.getpid()))
        self.tracer = layers.Tracer()
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self._ref_rows = None
        self.n_passes = 0
        self.last_counts: dict[str, int] = {}  # stage counts of the last pipeline pass

    # --- inputs and expectations (untimed) ----------------------------

    def prepare(self) -> None:
        for d in ("tmp", "spark-local", "warehouse", "eventlog", "out"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.makedirs(self.traces, exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.corpus_dir = corpus.materialize(self.cache, self.wl.spec, self.seed)
        self.t1_dir, self.t1_expected = corpus.golden(ROOT, self.cache, "t1")
        self.t2_dir, self.t2_expected = corpus.golden(ROOT, self.cache, "t2")
        with open(os.path.join(HERE, "expected.json")) as f:
            recorded = json.load(f).get(self.wl.name, {})
        self.expected = recorded if recorded.get("key") == self.wl.spec.key(self.seed) else {}
        if self.wl.pipeline:
            feats = corpus.content_reference(self.ref_rows())
            self.features = feats
            exact_kept = sum(f["keep"] for f in feats.values())
            if self.expected.get("exact_kept", exact_kept) != exact_kept:
                raise CheckFailed(
                    f"content reference keeps {exact_kept} docs, recorded "
                    f"{self.expected['exact_kept']}"
                )
            self.expected["exact_kept"] = exact_kept

    def ref_rows(self) -> list[tuple]:
        if self._ref_rows is None:
            self._ref_rows = corpus.reference_rows(
                self.wl.spec, self.seed, self.cores, self.work)
        return self._ref_rows

    def expected_extract(self, spark) -> list[int]:
        """Digest of the reference outputs, recorded for the default seed
        and derived once per other seed from extract_spans."""
        if "extract" not in self.expected:
            path = os.path.join(self.cache, "expected", self.wl.spec.key(self.seed) + ".json")
            if not os.path.exists(path):
                ref = os.path.join(self.work, "reference.parquet")
                pq.write_table(corpus.reference_table(self.ref_rows()), ref)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path + ".tmp", "w") as f:
                    json.dump(digest(spark.read.parquet(ref), OUT_COLS, errors=True), f)
                os.replace(path + ".tmp", path)
            with open(path) as f:
                self.expected["extract"] = json.load(f)
        return self.expected["extract"]

    def slice_docs(self) -> list[dict]:
        from boilerpipe_coffee_spark.fixtures import generate_doc

        return [
            generate_doc(i, self.seed, self.wl.spec.giant_max)
            for i in range(0, self.wl.spec.n_docs, SLICE_STRIDE)
        ]

    # --- checks -------------------------------------------------------

    def fail(self, msg: str) -> None:
        self.errors.append(msg)
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    def check_golden(self, rows, expected: dict, name: str) -> None:
        bad = golden_mismatches(rows, expected)
        if bad:
            self.fail(f"golden {name}: {len(bad)} docs differ, first {bad[:3]}")

    def check_extract(self, got: list[int], exp: list[int], what: str) -> None:
        """Compare [rows, xor, errors] digests.  Docs with no output row,
        or with an error the reference does not raise, count as failed."""
        self.attempted += self.wl.spec.n_docs
        self.failed += max(0, exp[0] - got[0]) + max(0, got[2] - exp[2])
        if got != exp:
            self.fail(f"{what}: digest {got} != expected {exp}")

    def check_training(self, spark, out: str, exact_kept: int) -> int:
        if exact_kept != self.expected["exact_kept"]:
            self.fail(f"exact keep-set {exact_kept} != reference {self.expected['exact_kept']}")
        tdf = spark.read.parquet(os.path.join(out, "training")).select(*TRAIN_COLS)
        rows = tdf.collect()
        for r in rows:
            ref = self.features.get(r.doc_id)
            if ref is None or not ref["keep"] or r.cluster_id != r.doc_id or any(
                r[c] != ref[c] for c in TRAIN_COLS[:-1]
            ):
                self.fail(f"training row {r.doc_id} differs from the content reference")
                break
        kept = len(rows)
        if not 0 < kept <= exact_kept or len({r.doc_id for r in rows}) != kept:
            self.fail(f"training keeps {kept} docs of {exact_kept}")
        got = digest(tdf, TRAIN_COLS)
        log(f"training digest {got}, exact keep-set {exact_kept}")
        if self.expected.setdefault("training", got) != got:
            self.fail(f"training digest {got} != {self.expected['training']}")
        return kept

    # --- set-up and timed passes ---------------------------------------

    def set_up(self, engine: Engine, extra_conf: dict | None = None) -> float:
        """Session start, worker spawn and a cold pass over the golden t1
        slice; returns its wall time."""
        from boilerpipe_coffee_spark.operators import extract

        t0 = perf_counter()
        spark = engine.start(extra_conf)
        rows = extract(spark.read.parquet(self.t1_dir), ARTICLE).collect()
        elapsed = perf_counter() - t0
        self.check_golden(rows, self.t1_expected, "t1")
        return elapsed

    def after_setup(self, spark) -> None:
        from boilerpipe_coffee_spark.operators import extract

        rows = extract(spark.read.parquet(self.t2_dir), ARTICLE).collect()
        self.check_golden(rows, self.t2_expected, "t2")
        self.exp_extract = self.expected_extract(spark)

    def extract_pass(self, spark, i: int):
        from boilerpipe_coffee_spark.operators import extract

        got = digest(extract(spark.read.parquet(self.corpus_dir), ARTICLE), OUT_COLS, errors=True)
        return lambda: self.check_extract(got, self.exp_extract, f"pass {i}")

    def pipeline_pass(self, spark, i: int):
        """The default stage composition of jobs/run_pipeline.py."""
        from pyspark.sql import functions as F

        from boilerpipe_coffee_spark.operators.pipeline import run_partitioned
        from boilerpipe_coffee_spark.operators.pretrain import content_features, near_dup_keep
        from boilerpipe_coffee_spark.sources import write_bucketed

        out = os.path.join(self.work, "out", f"pass-{i}")
        span = self.tracer.span
        tid = f"pass-{i}"
        with span("pipeline.run_partitioned", tid):
            s1 = run_partitioned(
                spark, spark.read.parquet(self.corpus_dir), os.path.join(out, "extract"),
                ARTICLE, n_buckets=EXTRACT_BUCKETS,
            )
        with span("pretrain.content_features", tid):
            extracted = spark.read.parquet(os.path.join(out, "extract", "data"))
            features = content_features(extracted).persist()
            exact_kept = features.filter(F.col("keep")).count()
        with span("pretrain.near_dup_keep", tid):
            training = near_dup_keep(features, n_docs=exact_kept).filter(
                F.col("keep_final")
            ).drop("is_canonical", "passes_gates", "keep", "keep_final")
        table = f"perfbench_training_{os.getpid()}_{i}"
        with span("sources.training_write", tid):
            write_bucketed(
                training, table, os.path.join(out, "training"), "doc_id",
                n_buckets=TRAINING_BUCKETS,
            )
        features.unpersist()

        def verify():
            data = spark.read.parquet(os.path.join(out, "extract", "data")).select(*OUT_COLS)
            got = digest(data, OUT_COLS, errors=True)
            self.check_extract(got, self.exp_extract, f"pass {i} extract")
            if [s1["docs_out"], s1["errors"]] != [got[0], got[2]]:
                self.fail(f"pass {i}: run_partitioned summary {s1} disagrees with its output")
            kept = self.check_training(spark, out, exact_kept)
            self.last_counts = {
                "pipeline.docs_out": s1["docs_out"],
                "pipeline.quarantined": s1["errors"],
                "pretrain.kept": exact_kept,
                "pretrain.near_dup_kept": kept,
            }
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            shutil.rmtree(out, ignore_errors=True)

        return verify

    def passes(self, engine: Engine, seconds: float, group: str | None = None,
               min_passes: int | None = None) -> list[dict]:
        """Closed loop: run passes until ``seconds`` have elapsed (and at
        least the workload's ``min_passes``); each pass is checked after
        its timing, outside it."""
        spark = engine.spark
        sc = spark.sparkContext
        run_pass = self.pipeline_pass if self.wl.pipeline else self.extract_pass
        out = []
        with procstat.TreeSampler(engine.jvm_pid) as sampler:
            deadline = perf_counter() + seconds
            if min_passes is None:
                min_passes = self.wl.min_passes
            while len(out) < min_passes or perf_counter() < deadline:
                i = self.n_passes  # numbers passes across windows
                self.n_passes += 1
                if group:
                    sc.setJobGroup(f"{group}-{i}", f"timed pass {i}")
                with self.tracer.span("pass", f"pass-{i}") as rec:
                    sampler.reset()
                    cpu0 = sampler.cpu_s()
                    t0 = perf_counter()
                    verify = run_pass(spark, i)
                    wall = perf_counter() - t0
                    cpu = sampler.cpu_s() - cpu0
                    peak = sampler.peak_mb
                if group:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                verify()
                log(f"pass {i}: {wall:.3f} s, cpu {cpu:.2f} s, peak {peak:.0f} MB")
                out.append({"wall": wall, "cpu": cpu, "peak_mb": peak, "span": rec["id"]})
        return out

    # --- the two kinds of run -----------------------------------------

    def e2e(self, engine: Engine) -> dict[str, float]:
        setups = []
        for k in range(N_SETUPS):
            if k:
                engine.stop()
            setups.append(self.set_up(engine))
            log(f"set-up {k}: {setups[-1]:.3f} s")
        self.after_setup(engine.spark)
        log("golden t2 and expected digest checked")
        self.passes(engine, 0, min_passes=self.wl.warmup_passes)
        runs = self.passes(engine, self.seconds)
        n = self.wl.spec.n_docs
        return {
            "docs_per_s": median([n / p["wall"] for p in runs]),
            "cpu_s_per_kdoc": median([p["cpu"] / n * 1e3 for p in runs]),
            "worker_peak_rss_mb": median([p["peak_mb"] for p in runs]),
            "setup_s": median(setups),
            "ok_frac": 1.0 - self.failed / max(self.attempted, 1),
        }

    def traced(self, engine: Engine) -> dict[str, float]:
        docs = self.slice_docs()
        batches = corpus.docs_table(docs).to_batches(max_chunksize=1024)
        core, arrow_s = layers.core_layers(docs, batches, self.tracer)

        self.set_up(engine)
        self.after_setup(engine.spark)
        # warm the JVM first: both windows below should time warm code
        self.passes(engine, self.seconds)
        untraced = self.passes(engine, self.seconds / 2)
        engine.stop()
        evdir = os.path.join(self.work, "eventlog")
        self.set_up(engine, {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one file
        })
        traced = self.passes(engine, self.seconds / 2, group="traced")
        engine.stop()  # flushes the event log
        (log_path,) = glob.glob(os.path.join(evdir, "*"))
        tasks = [
            t for t in eventlog.tasks_by_group(eventlog.read_events(log_path))
            if t.group.startswith("traced-")
        ]
        m = dict(core)
        m.update(eventlog.summarize(tasks, len(traced)))

        n = self.wl.spec.n_docs
        wall = median([p["wall"] for p in traced])
        m["spark.parallel_eff"] = (n / wall) / (self.cores * core["core.docs_per_s_1core"])
        m["trace.overhead_frac"] = wall / median([p["wall"] for p in untraced]) - 1.0

        traced_ids = {p["span"] for p in traced}
        by_stage = {name: 0.0 for name in PIPELINE_STAGES}
        for s in self.tracer.spans:
            if s["parent"] in traced_ids and s["name"] in by_stage:
                by_stage[s["name"]] += (s["end"] - s["start"]) / len(traced)
        for name, secs in by_stage.items():
            m[name + "_s"] = secs
        for name in ("pipeline.docs_out", "pipeline.quarantined", "pretrain.kept",
                     "pretrain.near_dup_kept"):
            m[name] = self.last_counts.get(name, 0)

        if self.wl.pipeline:
            # stage spans against the pass they sit in
            total = median([p["wall"] for p in traced])
            layer_sum = sum(by_stage.values())
        else:
            # task time against the single-core Python time for one pass
            total = m["spark.executor_run_s"]
            layer_sum = arrow_s * n / len(docs)
        m["trace.total_s"] = total
        m["trace.layer_sum_s"] = layer_sum
        m["trace.gap_frac"] = (total - layer_sum) / total
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import boilerpipe_coffee_spark.operators  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "tests", "golden")):
        print("perfbench: tests/golden is missing", file=sys.stderr)
        return 2

    # metric names and units, as declared in BENCHMARK.json
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    # every process started below is waited for before this one exits,
    # also when it is stopped by SIGTERM
    procstat.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    engine = Engine(bench.work, bench.cores)
    try:
        bench.prepare()
        log("inputs ready")
        metrics = bench.traced(engine) if bench.trace else bench.e2e(engine)
    except CheckFailed as e:
        bench.fail(str(e))
        metrics = {}
    finally:
        try:
            engine.shutdown()
        finally:
            procstat.reap_children()
            bench.tracer.dump(os.path.join(
                bench.traces, f"{args.workload}-s{args.seed}-t{args.trace}.jsonl"))
            shutil.rmtree(bench.work, ignore_errors=True)

    if set(metrics) != set(units):
        bench.fail(f"not measured: {sorted(set(units) - set(metrics))}")
    for name, unit in units.items():
        if name in metrics:
            print(f"{args.workload:14s} {name:28s} {metrics[name]:14.6g} {unit}")
    correct = not bench.errors
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
