"""Focused tests for the r9 optimization internals.

- scanspread: the conditional scan-parallelism floor must fire only
  on layouts that cannot feed the cluster AND tables big enough to
  amortize per-task overhead, and must never change row contents.
- _cos_fold_udf: the vectorized cosine must be BIT-IDENTICAL to the
  interpreted F.aggregate fold it replaced (np.cumsum == sequential
  left fold) — the claim every IVF/topk oracle row rests on.
- memoized hash stages: the per-task memo must produce exactly the
  hashes of the direct md5 form.
"""

import math

import numpy as np
import pytest

from boilerpipe_coffee_spark.operators.scanspread import (
    MIN_ROWS_PER_TASK,
    barrier_pays,
    spread_scan,
)


def _write_single_group(spark, path, n):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"doc_id": range(n), "text": ["w"] * n})
        ),
        path,
        row_group_size=max(n, 1),
    )


def test_spread_fires_on_big_single_group_table(spark, tmp_path):
    p = str(tmp_path / "big.parquet")
    n = MIN_ROWS_PER_TASK * 4
    _write_single_group(spark, p, n)
    df = spark.read.parquet(p)
    out = spread_scan(spark, df, p)
    par = spark.sparkContext.defaultParallelism
    want = min(par, n // MIN_ROWS_PER_TASK)
    assert out.rdd.getNumPartitions() == want
    # contents unchanged
    assert out.count() == n
    assert set(r.doc_id for r in out.select("doc_id").collect()) == set(
        range(n)
    )


def test_spread_noop_on_tiny_table(spark, tmp_path):
    p = str(tmp_path / "tiny.parquet")
    _write_single_group(spark, p, 100)
    df = spark.read.parquet(p)
    out = spread_scan(spark, df, p)
    # below one task quantum: returned untouched (same plan object)
    assert out is df


def test_spread_noop_when_layout_already_feeds_cluster(spark, tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "many.parquet")
    n = MIN_ROWS_PER_TASK * 8
    # many small row groups >= defaultParallelism quanta
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"doc_id": range(n), "text": ["w"] * n})
        ),
        p,
        row_group_size=max(n // (spark.sparkContext.defaultParallelism * 2), 1),
    )
    df = spark.read.parquet(p)
    assert spread_scan(spark, df, p) is df


def test_spread_fires_on_hive_partitioned_table(spark, tmp_path):
    """A partitioned directory (``part=N/*.parquet``, no file at its
    top level) with one row group per file is counted, and spread."""
    p = tmp_path / "parted"
    n_parts, per = 2, MIN_ROWS_PER_TASK * 2
    for k in range(n_parts):
        (p / f"part={k}").mkdir(parents=True)
        _write_single_group(spark, str(p / f"part={k}" / "f.parquet"), per)
    df = spark.read.parquet(str(p))
    out = spread_scan(spark, df, str(p))
    par = spark.sparkContext.defaultParallelism
    want = min(par, n_parts * per // MIN_ROWS_PER_TASK)
    assert want > n_parts  # two row groups cannot feed the target
    assert out.rdd.getNumPartitions() == want
    assert out.count() == n_parts * per


def test_spread_noop_on_unreadable_path(spark):
    df = spark.range(5)
    assert spread_scan(spark, df, "/nonexistent/nowhere.parquet") is df


def test_spread_noop_on_corrupt_file(spark, tmp_path):
    p = tmp_path / "bad.parquet"
    p.write_bytes(b"not parquet at all")
    df = spark.range(5)
    assert spread_scan(spark, df, str(p)) is df


def test_barrier_pays_crossover():
    assert not barrier_pays(0)
    assert not barrier_pays(5000)  # sf0.1-class: lazy shape measured faster
    assert barrier_pays(50000)  # sf1.0-class: materialization measured faster


def test_cos_fold_udf_bit_identical_to_interpreted_fold(spark):
    """np.cumsum[..., -1] must equal the sequential F.aggregate fold
    EXACTLY (not approximately): compare against a pure-python left
    fold, which is what Catalyst's interpreted aggregate computes."""
    from pyspark.sql import functions as F

    from boilerpipe_coffee_spark.operators.similarity import (
        _cos_fold_udf,
        _dot,
        _norm,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=64)],
         [float(x) for x in rng.normal(size=64)])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = {
        r.id: r.c
        for r in df.select(
            "id", _cos_fold_udf()(F.col("a"), F.col("b")).alias("c")
        ).collect()
    }
    ref = {
        r.id: r.c
        for r in df.select(
            "id",
            (
                _dot(F.col("a"), F.col("b"))
                / (_norm(F.col("a")) * _norm(F.col("b")))
            ).alias("c"),
        ).collect()
    }
    for i, (av, bv) in ((r[0], (r[1], r[2])) for r in rows):
        # pure-python sequential fold (the semantic ground truth)
        num = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(av, bv):
            num += x * y
            na += x * x
            nb += y * y
        py = num / (math.sqrt(na) * math.sqrt(nb))
        assert got[i] == py, (i, got[i], py)
        assert ref[i] == py, (i, ref[i], py)


def test_memoized_gram_hashes_match_direct_md5(spark):
    """The bounded memo + digest-slice in _gram_rows_df must emit
    exactly the h64 values of the direct hexdigest form."""
    import hashlib

    from boilerpipe_coffee_spark.operators.textstats import (
        DUP_SPAN_W,
        _gram_rows_df,
    )

    texts = [
        (1, "alpha beta gamma delta " * 20),
        (2, "alpha beta gamma delta " * 20 + "unique tail words here"),
        (3, "totally different content with many words " * 10),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = _gram_rows_df(df, DUP_SPAN_W).collect()
    import re

    tok_re = re.compile(r"[^a-z0-9]+")
    want = []
    for doc_id, text in texts:
        toks = [t for t in tok_re.split((text or "").lower()) if t]
        for i in range(max(len(toks) - DUP_SPAN_W + 1, 0)):
            g = " ".join(toks[i : i + DUP_SPAN_W])
            want.append(
                (doc_id, i,
                 int(hashlib.md5(g.encode()).hexdigest()[:15], 16))
            )
    assert sorted((r.doc_id, r.pos, r.g) for r in got) == sorted(want)
