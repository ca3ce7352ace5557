"""Conditional scan-parallelism floor for badly-laid-out parquet.

Parquet's parallelism quantum is the ROW GROUP: Spark assigns a row
group to the split containing its midpoint, so a table written as one
file with one row group feeds exactly ONE task no matter how finely
``spark.sql.files.maxPartitionBytes`` slices it — every split but one
comes up empty.  The driver test tables are exactly that shape
(measured at sf1.0: 23 scan splits, median task 0 rows, one task does
100% of the signature work), which serializes every corpus-wide
operator on a 32-core host.

:func:`spread_scan` is the guide-§6 ``minPartitionNum`` intent applied
where the session conf is out of our hands, with a per-task WORK
floor so the fix can never overshoot on small tables:

- target parallelism = ``clamp(n_rows // MIN_ROWS_PER_TASK, 1,
  defaultParallelism)`` — a tiny table gets few (or no) extra tasks,
  a big one gets every core.  ``MIN_ROWS_PER_TASK`` is NOT a
  core-count constant: it is the measured work floor of this engine's
  per-document Python stages (~0.2–0.5 ms/doc tokenize+hash ->
  ≥0.2–0.5 s per task, amortizing the ~50–100 ms per-task scheduling
  and Python-worker round-trip several times over).  Interleaved A/B
  at sf0.1 showed the un-gated 32-way spread COSTING 2x on a
  5000-doc table while the same spread gained 2x at 50k docs — this
  gate keeps both.
- repartition fires only when the existing layout provides fewer
  row-group quanta than that target; a real table at scale has
  orders of magnitude more row groups than cores (128 MB groups ->
  ~8000 per TB), so the floor provably never fires there.

Both probes (row count, row-group count) are FILE METADATA (parquet
footers), early-exited; no row data is read and nothing derived from
row values is cached or reused across runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# per-task work floor for the Python-heavy document stages (see
# module docstring for the derivation; independent of core count)
MIN_ROWS_PER_TASK = 1024


def barrier_pays(n_rows: int) -> bool:
    """Cost model for the eager ``localCheckpoint`` barriers that
    de-duplicate multi-consumer Arrow stages (guide §5: caching is
    only worth it when recomputation costs more than the barrier).
    One caller: ``dedup.dedup_minhash_verified``, whose pairs and
    shingle sets each feed two consumers.  The LSH pair generators
    need no barrier: they pair inside the bucket row, so their
    signature pass has one consumer at every scale.
    A barrier costs a fixed ~0.2–0.5 s of extra Spark jobs; what it
    saves is a whole corpus signature/set pass, whose cost scales
    with rows.  Interleaved A/B measured the crossover between 5k
    docs (barriers +0.4–1.3 s, recompute wins) and 50k docs
    (barriers −35–53%, materialization wins); ``16 *
    MIN_ROWS_PER_TASK`` (16,384 rows) sits in that bracket and is
    expressed in the same work-floor unit — row counts, not core
    counts, so the decision is identical on any cluster size."""
    return n_rows >= 16 * MIN_ROWS_PER_TASK


def _layout(path: str, row_cap: int, quanta_cap: int) -> "tuple[int, int]":
    """(total rows, total row groups) of the parquet files under
    ``path`` (one file, or a directory at any depth -- hive
    partitions included), each early-exiting at its cap (all we need
    is whether the layout can feed ``quanta_cap`` tasks and whether
    the table has enough rows to want them)."""
    import pyarrow.dataset as ds

    rows = quanta = 0
    for frag in ds.dataset(path, format="parquet").get_fragments():
        md = frag.metadata
        rows += md.num_rows
        quanta += md.num_row_groups
        if rows >= row_cap and quanta >= quanta_cap:
            break
    return rows, quanta


def spread_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Apply the scan-parallelism floor to ``df`` (a scan of
    ``path``): repartition to ``min(defaultParallelism, n_rows //
    MIN_ROWS_PER_TASK)`` partitions, only when the parquet layout
    cannot already feed that many tasks.  Round-robin repartition is
    deterministic under Spark's sort-before-repartition default, and
    every consumer here is either order-insensitive or re-sorted
    downstream."""
    import pyarrow as pa

    par = spark.sparkContext.defaultParallelism
    try:
        rows, quanta = _layout(path, par * MIN_ROWS_PER_TASK, par)
    except (OSError, pa.ArrowInvalid):
        # unreadable layout: never let the optimization break the
        # read path (a missing pyarrow or a bug still raises)
        return df
    target = min(par, rows // MIN_ROWS_PER_TASK)
    if target <= 1 or quanta >= target:
        return df
    return df.repartition(target)


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """The driver-table reader: ``<sf_dir>/<name>.parquet``.
    ``spread=True`` applies :func:`spread_scan`, for the corpus-wide
    compute-heavy stages a single-row-group table would otherwise
    serialize on one core.  Cheap row-level queries and metadata
    ``count()`` probes read un-spread, so they never pay the
    repartition."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    return spread_scan(spark, df, path) if spread else df
