"""Structured Streaming operators.

The north rule's pipeline is batch with Iceberg-snapshot resume
(operators.pipeline), but the same per-document operator composes
directly with Structured Streaming for continuous ingestion: the
production extract is a stateless mapInArrow over independent rows, so
it needs no watermarks or state store -- each micro-batch is extracted
exactly like a batch partition, and checkpointing gives exactly-once
sink semantics.

Beyond the stateless wrapper this module carries the two stateful
streaming shapes a continuous ingestion pipeline needs:

- :func:`windowed_event_counts` -- event-time tumbling-window
  aggregation with a watermark; in append mode only windows whose end
  the final watermark passed are emitted, which the DuckDB oracle
  reproduces with ``window_end <= max(ts) - delay``.
- :func:`dedup_first_seen` -- ``applyInPandasWithState``: per
  content-hash state (running min doc_id + running count) carried
  across micro-batches; each batch emits the cumulative row, so the
  last row per key equals the batch ``dedup_exact`` answer no matter
  how the stream was chopped into micro-batches.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators import extract
from ..operators.scanspread import read_table
from ..sources import INTERLEAVED_SCHEMA


def read_interleaved_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of interleaved-doc parquet drops."""
    return (
        spark.readStream.schema(INTERLEAVED_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def extract_stream(
    docs: DataFrame,
    extractor: str = "ArticleExtractor",
):
    """Streaming extraction: same operator, stateless per row."""
    return extract(docs, extractor)


def write_stream(
    result: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Parquet sink with checkpoint; availableNow processes the backlog
    then stops (the streaming analogue of the batch resume loop)."""
    writer = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------------------------------ #
# watermarked event-time windows                                      #
# ------------------------------------------------------------------ #


def windowed_event_counts(
    events: DataFrame,
    window_dur: str = "1 hour",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Tumbling event-time windows over a (possibly streaming) events
    frame.  The watermark bounds state: windows older than
    ``max(event time) - delay`` are finalized and emitted (append
    mode), later-arriving data for them is dropped -- the standard
    late-data contract."""
    return (
        # watermarks require TIMESTAMP (instant); the tables store NTZ.
        # Both casts use the session tz, so wall-clock hourly windows
        # round-trip unchanged.
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_dur).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ------------------------------------------------------------------ #
# applyInPandasWithState: cross-micro-batch dedup state               #
# ------------------------------------------------------------------ #

_DEDUP_OUT_SCHEMA = "content_hash string, min_doc_id bigint, n_cum bigint"
_DEDUP_STATE_SCHEMA = "min_doc_id bigint, total bigint"


def _first_seen_fn(key, pdfs, state: GroupState):
    """Cumulative (min doc_id, count) per content hash.  The cumulative
    row emitted per micro-batch is monotone, so the final row per key
    is independent of how rows were split across batches."""
    if state.exists:
        mn, tot = state.get
    else:
        mn, tot = None, 0
    for pdf in pdfs:
        if len(pdf):
            b_min = int(pdf["doc_id"].min())
            mn = b_min if mn is None else min(mn, b_min)
            tot += len(pdf)
    state.update((mn, tot))
    yield pd.DataFrame(
        {"content_hash": [key[0]], "min_doc_id": [mn], "n_cum": [tot]}
    )


def dedup_first_seen(docs: DataFrame) -> DataFrame:
    """Stateful streaming dedup over (doc_id:bigint, text) rows: state
    keyed by md5(text) carries the running min doc_id and running
    count across micro-batches.  Aggregating the emitted rows with
    (min(min_doc_id), max(n_cum)) reproduces the batch ``dedup_exact``
    (content_hash, keep_doc_id, n_docs) exactly."""
    keyed = docs.select(
        F.md5("text").alias("content_hash"), "doc_id"
    ).groupBy("content_hash")
    return keyed.applyInPandasWithState(
        _first_seen_fn,
        outputStructType=_DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def probe_index_foreach_batch(
    stream_df: DataFrame, index_dir: str, out_dir: str, ckpt_dir: str
):
    """Stream-ingest against a MATERIALIZED dedup index via
    ``foreachBatch`` — the escape hatch for index representations a
    stateless stream-static join cannot probe: a ``dup_span_scrubbed``
    index needs the dup_grams splice REPLAY on the probe side, which
    aggregates per batch (collect of duplicated positions), illegal
    in an append-mode streaming plan.  Each micro-batch runs the
    exact batch operator (``probe_dedup_index`` — splice + PII replay
    + asymmetric bucketed joins) and appends its decisions; drained
    availableNow output equals the one-shot batch probe row-for-row
    (micro-batch boundaries don't interact: the probe is per-doc
    against static tables).

    Replays after a mid-stream failure re-run at most one committed
    epoch (parquet append is at-least-once across sink retries);
    downstream consumers fold by doc_id, which is idempotent here
    because every epoch emits identical rows for a given doc."""

    def _probe(batch_df: DataFrame, _epoch_id: int) -> None:
        from ..operators.dedup import probe_dedup_index

        probe_dedup_index(
            batch_df.sparkSession, batch_df, index_dir
        ).write.mode("append").parquet(out_dir)

    q = (
        stream_df.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_available_now(result: DataFrame, out_dir: str, checkpoint_dir: str):
    """Run a streaming frame to a parquet sink until the backlog is
    drained; blocks until finished."""
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# ------------------------------------------------------------------ #
# driver-contract entries: materialize file drops, run the stream,    #
# return the (deterministic) result frame                              #
# ------------------------------------------------------------------ #


def _work_dirs(kind: str, sf_dir: str):
    import glob
    import hashlib
    import os
    import shutil
    import time

    # tag includes the pid: two concurrent sessions (pytest + a driver
    # sim) on the same sf_dir must not rmtree each other's live
    # drop/checkpoint dirs mid-stream.  Sweep dirs left by DEAD pids
    # (the per-pid scheme would otherwise accumulate one replayed
    # corpus copy per past process in /tmp forever); a dir is only
    # removed when its owning process no longer exists.
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    for stale in glob.glob(f"/tmp/bpc_stream_{kind}_{h}_*"):
        try:
            pid = int(stale.rsplit("_", 1)[-1])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        # liveness via /proc/<pid>, plus an mtime backstop: a recycled
        # pid belonging to an unrelated live process would otherwise
        # pin a dead session's corpus copy in /tmp forever
        try:
            age = time.time() - os.path.getmtime(stale)
        except OSError:
            age = 0.0
        if not os.path.exists(f"/proc/{pid}") or age > 86400:
            shutil.rmtree(stale, ignore_errors=True)
    base = f"/tmp/bpc_stream_{kind}_{h}_{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    return f"{base}/drops", f"{base}/out", f"{base}/ckpt"


class _scoped_conf:
    """Temporarily pin session confs for a streaming demo query, then
    restore.  Two reasons:
    - spark.sql.shuffle.partitions: the state store creates one
      instance PER shuffle partition PER micro-batch, so a vanilla
      200-partition session pays ~10x on a demo-sized stream (results
      are partition-count independent; only wall time changes);
    - spark.sql.session.timeZone=UTC: the NTZ->timestamp->window->NTZ
      round trip in the windowed query is only aligned with the
      oracle's date_trunc('hour') when the session tz is hour-aligned
      and DST-free -- pin it rather than assume the driver's default.
    """

    def __init__(self, spark, confs: dict):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        self.old = {
            k: self.spark.conf.get(k) for k in self.confs
        }
        for k, v in self.confs.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.old.items():
            self.spark.conf.set(k, v)


_STREAM_CONFS = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.session.timeZone": "UTC",
}


def streaming_windowed_event_counts(spark, sf_dir, poll_timeout: float = 120.0):
    """Events table replayed as an (unordered) file stream in several
    micro-batches; watermarked hourly windows in APPEND mode.

    Event-time discipline makes this deterministic despite the
    arbitrary replay order: the watermark delay (40 days) exceeds the
    corpus time span, so no replayed row is ever dropped as late; once
    the backlog is drained, a single SENTINEL event far past the corpus
    (the streaming stand-in for 'time passed') advances the watermark
    beyond every real window's end, flushing them all.  The sentinel's
    own window stays unflushed and never reaches the sink, so the
    emitted rows equal the plain hourly aggregate -- the DuckDB oracle.
    """
    drops, out, ckpt = _work_dirs("win", sf_dir)
    events = read_table(spark, sf_dir, "events")
    n_rows, max_ts = events.agg(
        F.count("*"), F.max("ts")
    ).collect()[0]
    events.repartition(6).write.parquet(drops)

    with _scoped_conf(spark, _STREAM_CONFS):
        return _run_windowed(
            spark, events, drops, out, ckpt, n_rows, max_ts, poll_timeout
        )


def _replay_until_flushed(spark, schema, drops, out, ckpt, transform,
                          n_rows, sentinel_row, poll_timeout):
    """Shared replay scaffolding for the sentinel-flushed demos: run
    ``transform(stream)`` to a parquet sink, wait for the FULL backlog
    (raising on timeout -- writing the sentinel early would advance the
    watermark past not-yet-ingested real rows and silently drop them as
    late), append the watermark-advancing sentinel, then wait for the
    sink to flush and stabilize.  Each phase gets its own timeout
    budget; the query is always stopped."""
    import time

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(drops)
    )
    q = (
        transform(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )

    # accumulate rows MONOTONICALLY per batchId: recentProgress is a
    # ring buffer capped at ~100 entries, so with the 200ms trigger a
    # long backlog would evict early batches and re-summing it each
    # poll undercounts (spurious TimeoutError on a success)
    seen_batches: dict[int, int] = {}

    def rows_seen():
        for p in q.recentProgress:
            seen_batches[p["batchId"]] = p["numInputRows"]
        return sum(seen_batches.values())

    def wait(cond, budget, what):
        t0 = time.time()
        while not cond():
            if time.time() - t0 > budget:
                raise TimeoutError(
                    f"streaming replay: {what} not reached within "
                    f"{budget}s ({rows_seen()}/{n_rows} rows ingested)"
                )
            time.sleep(0.5)

    try:
        wait(lambda: rows_seen() >= n_rows, poll_timeout, "full backlog")
        spark.createDataFrame([sentinel_row], schema=schema).coalesce(
            1
        ).write.mode("append").parquet(drops)
        wait(lambda: rows_seen() >= n_rows + 1, poll_timeout, "sentinel")
        # flush happens in the batch after the sentinel's; wait for the
        # sink row count to stabilize at a nonzero value
        state = {"last": -1, "stable": 0}

        def stabilized():
            try:
                now = spark.read.parquet(out).count()
            except Exception:
                now = 0
            state["stable"] = (
                state["stable"] + 1 if (now == state["last"] and now > 0) else 0
            )
            state["last"] = now
            return state["stable"] >= 3

        wait(stabilized, poll_timeout, "sink flush")
    finally:
        # never leak a running 200ms-trigger stream into the session
        q.stop()
        q.awaitTermination()


def _run_windowed(spark, events, drops, out, ckpt, n_rows, max_ts,
                  poll_timeout):
    import datetime as _dt

    # sentinel: one event 40d + 2h past the corpus -> watermark lands
    # 2h past max(ts), strictly beyond every real window end
    sentinel = (
        int(1 << 62), max_ts + _dt.timedelta(days=40, hours=2),
        int(0), "sentinel", 0.0, None,
    )
    _replay_until_flushed(
        spark, events.schema, drops, out, ckpt,
        lambda s: windowed_event_counts(s, watermark_delay="40 days"),
        n_rows, sentinel, poll_timeout,
    )
    return spark.read.parquet(out).orderBy("window_start", "event_type")


STREAMING_WINDOWED_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def streaming_dedup_first_seen(spark, sf_dir):
    """Documents replayed as a one-file-per-trigger stream through the
    applyInPandasWithState dedup; the cumulative rows are folded to
    their final value per key, which equals the batch dedup_exact
    answer independent of micro-batch boundaries."""
    drops, out, ckpt = _work_dirs("dedup", sf_dir)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    docs.repartition(5).write.parquet(drops)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    with _scoped_conf(spark, _STREAM_CONFS):
        run_available_now(dedup_first_seen(stream), out, ckpt)
    emitted = spark.read.parquet(out)
    return (
        emitted.groupBy("content_hash")
        .agg(
            F.max("n_cum").alias("n_docs"),
            F.min("min_doc_id").alias("keep_doc_id"),
        )
        .orderBy("content_hash")
    )


STREAMING_DEDUP_SQL = """
SELECT md5(text) AS content_hash, count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text) ORDER BY content_hash
"""


# ------------------------------------------------------------------ #
# stateful session windows with event-time timeouts                   #
# ------------------------------------------------------------------ #

_SESS_OUT = (
    "user_id bigint, seg_id bigint, n_events bigint, sum_value double,"
    " start_epoch bigint, end_epoch bigint"
)
# seg = count of sessions already emitted (the only permanent O(1)
# residue per user -- needed so session numbering survives a flushed
# tail); the arrays hold ONLY the open tail, not the user's history
_SESS_STATE = (
    "seg bigint, es array<bigint>, ids array<bigint>, vals array<double>"
)
_SESSION_GAP_S = 1800

_SESS_COLS = [
    "user_id", "seg_id", "n_events", "sum_value", "start_epoch", "end_epoch",
]


def _sessions_of(es, ids, vals):
    """Sort events by (epoch, event_id) and split on >gap boundaries.
    Returns a list of dicts (n, sv, start, end, idx) in time order;
    ``sv`` is the RAW float sum in sorted-event order (rounding happens
    engine-side with F.round so half-away-from-zero matches the batch
    path and the DuckDB oracle -- Python round() is half-even)."""
    order = sorted(range(len(es)), key=lambda i: (es[i], ids[i]))
    sessions = []
    cur = None
    for i in order:
        if cur is None or es[i] - cur["end"] > _SESSION_GAP_S:
            if cur is not None:
                sessions.append(cur)
            cur = {"n": 0, "sv": 0.0, "start": es[i], "end": es[i], "idx": []}
        cur["n"] += 1
        cur["sv"] += vals[i]
        cur["end"] = es[i]
        cur["idx"].append(i)
    if cur is not None:
        sessions.append(cur)
    return sessions


def _sessionize_fn(key, pdfs, state: GroupState):
    """INCREMENTAL sessionization with bounded state: each batch merges
    new events into the open tail, emits every session the current
    watermark has provably closed (end + gap < watermark -- any future
    event has ts >= watermark, so it can neither extend nor bridge such
    a session), and keeps ONLY the still-open tail in state.  A hot
    user streaming forever therefore holds O(one open session) state,
    not O(history).  The event-time timeout (watermark passes
    last_event + gap) flushes the final tail; after it only the O(1)
    session counter remains."""
    import pandas as pd

    if state.hasTimedOut:
        seg, es, ids, vals = state.get
        rows = [
            (key[0], seg + j + 1, s["n"], s["sv"], s["start"], s["end"])
            for j, s in enumerate(_sessions_of(es, ids, vals))
        ]
        # keep the counter (O(1)) so numbering continues if the user
        # returns; no new timeout -- nothing left to flush
        state.update((seg + len(rows), [], [], []))
        yield pd.DataFrame(rows, columns=_SESS_COLS)
        return

    seg, es, ids, vals = state.get if state.exists else (0, [], [], [])
    es, ids, vals = list(es), list(ids), list(vals)
    for pdf in pdfs:
        es.extend(int(x) for x in pdf["e"])
        ids.extend(int(x) for x in pdf["event_id"])
        vals.extend(float(x) for x in pdf["value"])

    wm_s = state.getCurrentWatermarkMs() // 1000
    sessions = _sessions_of(es, ids, vals)
    rows = []
    n_closed = 0
    for s in sessions:  # time-ordered; closedness is a prefix property
        if s["end"] + _SESSION_GAP_S < wm_s:
            rows.append(
                (key[0], seg + n_closed + 1, s["n"], s["sv"], s["start"],
                 s["end"])
            )
            n_closed += 1
        else:
            break
    open_idx = [i for s in sessions[n_closed:] for i in s["idx"]]
    state.update(
        (
            seg + n_closed,
            [es[i] for i in open_idx],
            [ids[i] for i in open_idx],
            [vals[i] for i in open_idx],
        )
    )
    if open_idx:
        # fire once the watermark passes the open tail's last event +
        # gap; guaranteed > current watermark since the tail is open
        state.setTimeoutTimestamp(
            (max(es[i] for i in open_idx) + _SESSION_GAP_S + 1) * 1000
        )
    yield pd.DataFrame(rows, columns=_SESS_COLS)


def sessionize_stream(events: DataFrame, watermark_delay: str) -> DataFrame:
    """Session windows via applyInPandasWithState + EventTimeTimeout:
    the third stateful shape (beyond windowed aggs and running state) a
    continuous pipeline needs.  Sessions close as soon as the watermark
    provably seals them (incrementally, bounded state) and at the
    latest when the event-time timeout fires, so the output equals the
    batch window-based sessionization (SESSIONIZE_SQL oracle)."""
    keyed = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark_delay)
        .withColumn("e", F.unix_timestamp("ts"))
        .select("user_id", "event_id", "value", "ts", "e")
        .groupBy("user_id")
    )
    out = keyed.applyInPandasWithState(
        _sessionize_fn,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # engine-side rounding: F.round is half-away-from-zero like the
    # batch path and DuckDB round(); Python round() is half-even and
    # would diverge on an exact decimal tie at the 4th place
    return out.withColumn("sum_value", F.round("sum_value", 4))


def streaming_sessionize(spark, sf_dir, poll_timeout: float = 120.0):
    """Events replayed unordered; the 40-day watermark delay keeps
    every replayed row on time, then a sentinel event (user -1, far
    future) advances the watermark past every real timeout so all
    sessions emit.  Output (sentinel user dropped) equals the batch
    sessionize_events / SESSIONIZE_SQL exactly."""
    import datetime as _dt

    drops, out, ckpt = _work_dirs("sess", sf_dir)
    events = read_table(spark, sf_dir, "events")
    n_rows, max_ts = events.agg(F.count("*"), F.max("ts")).collect()[0]
    events.repartition(6).write.parquet(drops)

    sentinel = (
        int(1 << 62), max_ts + _dt.timedelta(days=41),
        int(-1), "sentinel", 0.0, None,
    )
    with _scoped_conf(spark, _STREAM_CONFS):
        _replay_until_flushed(
            spark, events.schema, drops, out, ckpt,
            lambda s: sessionize_stream(s, watermark_delay="40 days"),
            n_rows, sentinel, poll_timeout,
        )

    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "seg_id")
    )


# ------------------------------------------------------------------ #
# stream-stream join: clicks within the hour before each purchase      #
# ------------------------------------------------------------------ #


def click_purchase_join_stream(
    clicks: DataFrame, purchases: DataFrame, watermark_delay: str
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join -- the fourth stateful
    streaming shape (after windowed aggs, arbitrary state, session
    windows): each purchase joins every click by the same user in the
    hour before it.  Both sides carry watermarks and the join
    condition carries the time bound, which is what lets Spark evict
    buffered state (a click older than max-watermark - 1h can never
    match a future purchase); inner-join rows emit as soon as both
    sides have arrived, so the drained result equals the batch join
    exactly."""
    c = (
        clicks.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark_delay)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    p = (
        purchases.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark_delay)
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    joined = p.join(
        c,
        F.expr(
            "user_id = c_user AND "
            "c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"
        ),
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.unix_timestamp("p_ts").alias("purchase_epoch"),
        F.unix_timestamp("c_ts").alias("click_epoch"),
        F.round("p_value", 4).alias("purchase_value"),
    )


def streaming_click_purchase_join(spark, sf_dir):
    """Events replayed as TWO independent file streams (clicks side,
    purchases side) through the watermarked stream-stream join;
    availableNow drains the backlog.  Inner-join rows need no
    sentinel: they emit when both inputs have arrived, so the drained
    sink equals the batch/DuckDB join."""
    drops, out, ckpt = _work_dirs("ssjoin", sf_dir)
    events = read_table(spark, sf_dir, "events")
    events.repartition(6).write.parquet(drops)

    def side(kind):
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(drops)
            .filter(F.col("event_type") == kind)
        )

    with _scoped_conf(spark, _STREAM_CONFS):
        run_available_now(
            click_purchase_join_stream(
                side("click"), side("purchase"), watermark_delay="40 days"
            ),
            out,
            ckpt,
        )
    return spark.read.parquet(out).orderBy(
        "user_id", "purchase_id", "click_id"
    )


STREAMING_SS_JOIN_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       floor(epoch(p.ts))::BIGINT AS purchase_epoch,
       floor(epoch(c.ts))::BIGINT AS click_epoch,
       round(p.value, 4) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
ORDER BY p.user_id, purchase_id, click_id
"""


def streaming_extract_spans(spark, sf_dir, n_docs: int = 120):
    """The CORE operator on the streaming axis: the interleaved corpus
    replayed as a file stream (several docs per micro-batch) through
    the SAME zero-shuffle mapInArrow extraction the batch path runs --
    Structured Streaming permits stateless Arrow transforms, so the
    production operator needs no streaming variant.  availableNow
    drains the backlog to a parquet sink; the collected spans are
    EXACTLY the batch extraction's (asserted per-value in
    tests/test_streaming.py -- extraction has no SQL form, so the
    driver row is rows-only like the batch extract_* queries)."""
    from ..sources import synth_interleaved

    drops, out, ckpt = _work_dirs("extract", sf_dir)
    docs = synth_interleaved(spark, n_docs, seed=42)
    docs.repartition(6).write.parquet(drops)
    stream = read_interleaved_stream(spark, drops, max_files_per_trigger=2)
    with _scoped_conf(spark, _STREAM_CONFS):
        q = write_stream(
            extract_stream(stream, "ArticleExtractor"), out, ckpt
        )
        q.awaitTermination()
    extracted = spark.read.parquet(out)
    return (
        extracted.select(
            "doc_id", "title", "error",
            F.posexplode_outer("spans").alias("pos", "s"),
        )
        .select(
            "doc_id", "title", "error",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.order").alias("out_order"),
        )
        .orderBy("doc_id", "out_order")
    )


def streaming_incremental_dedup(spark, sf_dir):
    """STREAM-STATIC joins -- the Structured Streaming pattern the
    family was still missing: the incoming batch (doc_id %
    INCR_SPLIT_MOD == 0, same split as the batch op) arrives as a
    file stream and probes the STATIC existing-corpus tables -- an
    exact content-hash left join plus the asymmetric banded-LSH join
    against the existing band table (cap on the existing side's
    occupancy).  Both probes are STATELESS (no watermark, no state
    store): each micro-batch joins against the static frames, and at
    scale the static side is the bucketed band table a corpus version
    materializes once.  The two probe kinds union into one sink as
    (doc_id, kind, ref) rows; the batch-side fold to min-ref per kind
    equals :func:`..operators.dedup.dedup_incremental` exactly,
    independent of micro-batch boundaries (maxFilesPerTrigger=1 over
    5 files forces several).  Oracle: the batch op's
    DEDUP_INCREMENTAL_SQL, shared verbatim."""
    from pyspark.sql import Window

    from ..operators.dedup import (
        BUCKET_CAP,
        INCR_SPLIT_MOD,
        minhash_banding,
        minhash_bands_df,
    )

    drops, out, ckpt = _work_dirs("incr", sf_dir)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    banding = minhash_banding(docs.count())
    incoming = F.col("doc_id") % INCR_SPLIT_MOD == 0
    existing = docs.filter(~incoming)
    exist_h = (
        existing.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("ref"))
    )
    ex_capped = (
        minhash_bands_df(existing, banding)
        .withColumn("bn", F.count("*").over(Window.partitionBy("band_key")))
        .filter(F.col("bn") <= BUCKET_CAP)
        .select(F.col("doc_id").alias("ref"), "band_key")
    )

    docs.filter(incoming).repartition(5).write.parquet(drops)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    exact_rows = (
        stream.withColumn("h", F.md5("text"))
        .join(exist_h, "h", "left")
        .select(
            "doc_id",
            F.lit("exact").alias("kind"),
            F.coalesce("ref", F.lit(-1)).alias("ref"),
        )
    )
    near_rows = (
        minhash_bands_df(stream, banding)
        .join(ex_capped, "band_key")
        .select("doc_id", F.lit("near").alias("kind"), F.col("ref"))
    )
    with _scoped_conf(spark, _STREAM_CONFS):
        run_available_now(exact_rows.unionByName(near_rows), out, ckpt)
    emitted = spark.read.parquet(out)
    agg = emitted.groupBy("doc_id").agg(
        F.min(F.when(F.col("kind") == "exact", F.col("ref"))).alias("e"),
        F.min(F.when(F.col("kind") == "near", F.col("ref"))).alias("nr"),
    )
    return (
        agg.select(
            "doc_id",
            F.col("e").alias("exact_dup_of"),  # one exact row per doc
            F.coalesce("nr", F.lit(-1)).alias("near_dup_of"),
        )
        .withColumn(
            "keep",
            (F.col("exact_dup_of") == -1) & (F.col("near_dup_of") == -1),
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "streaming_windowed_event_counts": streaming_windowed_event_counts,
    "streaming_dedup_first_seen": streaming_dedup_first_seen,
    "streaming_sessionize": streaming_sessionize,
    "streaming_click_purchase_join": streaming_click_purchase_join,
    "streaming_incremental_dedup": streaming_incremental_dedup,
    # rows-only (extraction has no SQL oracle; equality vs the batch
    # path is test-asserted)
    "streaming_extract_spans": streaming_extract_spans,
}

# the batch window-based sessionization oracle IS the streaming
# oracle: same gap, same aggregates, same column names
from ..operators.relational import SESSIONIZE_SQL as _SESSIONIZE_SQL  # noqa: E402

from ..operators.dedup import DEDUP_INCREMENTAL_SQL as _INCR_SQL  # noqa: E402

ORACLES = {
    "streaming_windowed_event_counts": STREAMING_WINDOWED_SQL,
    "streaming_dedup_first_seen": STREAMING_DEDUP_SQL,
    "streaming_sessionize": _SESSIONIZE_SQL,
    "streaming_click_purchase_join": STREAMING_SS_JOIN_SQL,
    # the batch incremental-dedup oracle IS the streaming oracle:
    # stream-static joins are stateless, so the drained result equals
    # the batch op row-for-row
    "streaming_incremental_dedup": _INCR_SQL,
}
