"""Similarity search over the embeddings table (vec_id, embedding
float[64], label).

- brute-force cosine top-k: the correctness baseline; at scale this is
  a broadcast of the (small) query set against a full scan -- no
  shuffle beyond the final per-query top-k.
- random-hyperplane LSH buckets: the scale path; 8 deterministic
  md5-derived hyperplanes hash each vector to a 8-bit bucket, so
  candidate generation is a narrow (bucket -> [vec_id]) exchange and
  in-bucket search is local.

Hyperplane weights are md5-derived so Spark and the DuckDB oracle
compute identical planes: w[p][d] = ((0x-prefix of md5('p:d')) % 2001
- 1000) / 1000.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import h60
from ..functions import h64 as _h64
from ..functions import h64_duck as _h64_duck
from .scanspread import read_table

_H64_VEC = _h64_duck("vec_id::VARCHAR")

N_PLANES = 8
DIM = 64
TOP_K = 5
N_QUERIES = 3  # vec_id 0..2 are the query vectors


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v double[]) over the embeddings table, with the scan
    floor applied: every similarity operator runs per-vector
    projection/dot-product work over the whole table, and a
    single-row-group test table would otherwise serialize it on one
    core.  The floor is a no-op on well-laid-out tables."""
    return read_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def plane_weight(p: int, d: int) -> float:
    """Deterministic hyperplane weight, identical to the SQL formula."""
    return (h60(f"{p}:{d}") % 2001 - 1000) / 1000.0


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for query vectors 0..2."""
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    joined = emb.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    # r9: fold-exact Arrow cosine (see _cos_fold_udf)
    cos = F.round(_cos_fold_udf()(F.col("v"), F.col("q")), 4)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    return (
        joined.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


COSINE_TOPK_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
  FROM emb e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


def ann_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH: 8-bit bucket per vector + bucket sizes.

    r9: the 8 per-plane dot products run in one fold-exact Arrow pass
    (the declarative form evaluated 8 interpreted ``F.aggregate``
    folds per row; ``np.cumsum[..., -1]`` reproduces each fold
    bit-for-bit and the plane literals are the same python floats
    ``plane_weight`` fed to ``F.lit``)."""
    from pyspark.sql.functions import pandas_udf

    emb = _vectors(spark, sf_dir)
    planes = np.array(
        [
            [plane_weight(p, d) for d in range(1, DIM + 1)]
            for p in range(N_PLANES)
        ],
        dtype=np.float64,
    )

    @pandas_udf("int")
    def bucket_udf(va: pd.Series) -> pd.Series:
        a = _stack_vectors(va)
        out = np.zeros(len(a), dtype=np.int64)
        for p in range(N_PLANES):
            d = np.cumsum(a * planes[p], axis=1)[:, -1]
            out += np.where(d >= 0, 1 << p, 0)
        return pd.Series(out.astype(np.int32))

    out = emb.select("vec_id", bucket_udf("v").alias("bucket"))
    from pyspark.sql import Window

    w = Window.partitionBy("bucket")
    return out.select(
        "vec_id", "bucket", F.count("*").over(w).alias("bucket_size")
    ).orderBy("vec_id")


def _ann_sql() -> str:
    planes = []
    for p in range(N_PLANES):
        seed = f"'{p}:' || d"
        plane = (
            f"list_transform(range(1, {DIM + 1}), d -> "
            f"((({_h64_duck(seed)}) % 2001 - 1000) / 1000.0))"
        )
        planes.append(
            f"(CASE WHEN list_dot_product(v, {plane}) >= 0 "
            f"THEN {2 ** p} ELSE 0 END)"
        )
    bucket = " + ".join(planes)
    return f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), b AS (
  SELECT vec_id, ({bucket})::INT AS bucket FROM emb
)
SELECT vec_id, bucket,
       count(*) OVER (PARTITION BY bucket) AS bucket_size
FROM b ORDER BY vec_id
"""


ANN_LSH_SQL = _ann_sql()


def dedup_embedding_cosine(spark, sf_dir, threshold: float = 0.45):
    """Embedding-cosine near-duplicate pairs -- BRUTE-FORCE BASELINE
    (O(N^2) non-equi self-join), kept only as the recall yardstick and
    oracle anchor.  The production path is
    :func:`dedup_embedding_lsh_pairs`: multi-table hyperplane LSH
    buckets -> capped in-bucket candidate join -> exact cosine verify,
    linear in corpus size."""
    emb = _vectors(spark, sf_dir)
    a = emb.alias("a")
    b = emb.alias("b")
    cos = F.round(
        _dot(F.col("a.v"), F.col("b.v"))
        / (_norm(F.col("a.v")) * _norm(F.col("b.v"))),
        4,
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


DEDUP_EMB_COS_SQL = """
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs
WHERE cosine >= 0.45 ORDER BY vec_a, vec_b
"""


# ------------------------------------------------------------------ #
# embedding near-dup at scale: multi-table hyperplane LSH candidates   #
# ------------------------------------------------------------------ #

# Banding for vectors, mirroring the MinHash shape (dedup.py): T hash
# tables of B hyperplanes each; a pair is a candidate iff it shares a
# bucket in ANY table.  Per-plane collision probability for angle
# theta is 1 - theta/pi, so per-table it is (1 - theta/pi)^B and
# overall recall 1 - (1 - (1 - theta/pi)^B)^T.  At the test corpus's
# near-dup band (cosine 0.45-0.51) T=12 x B=4 gives deterministic
# 14/14 recall vs the brute-force baseline (planes are md5-derived,
# so recall is a fixed property of the corpus, not a random variable).
N_TABLES = 12
PLANES_PER_TABLE = 4

# Adaptive banding (round 5): B/T derive from the corpus row count so
# expected bucket occupancy (~N/2^B) stays near EMB_TARGET_BUCKET as N
# grows -- the candidate join stays sub-quadratic at any scale instead
# of melting down when N >> 2^B.  T rises with B to claw back recall.
# Both engines derive (B, T) from the SAME function: the Spark side
# counts the embeddings frame (parquet-footer metadata count); the
# oracle SQL is GENERATED for a given n_rows (oracle_sql() exports the
# driver corpus's n=500 instance, which resolves to the legacy
# B=4 x T=12 -- bit-identical to round 4 on the committed corpora).
#
# Measured frontier (this corpus, md5 planes, offline sweep committed
# in BASELINE.md): the near-dup threshold 0.45 cosine is a ~63-degree
# angle, where a sign hyperplane agrees on a TRUE pair with p~0.65 vs
# ~0.55-0.60 on background -- a per-bit gap so thin that NO (B, T)
# reaches <5% candidate fraction with full recall (B=4/T=12: 54%
# candidates, 14/14 recall at sf0.01; B=8/T=16: 7% candidates, 9/14;
# margin multi-probe measured too, same frontier).  The policy below
# therefore targets bounded bucket occupancy (the scale-critical
# property) rather than a candidate-fraction point no sign-LSH family
# can hit at this angle; real web near-dups (cosine >= 0.9, p~0.86)
# sit far inside the feasible region where the same policy gives both.
EMB_TARGET_BUCKET = 32


def emb_banding(n_rows: int) -> "tuple[int, int]":
    """(planes_per_table B, n_tables T) for a corpus of ``n_rows``:
    B = clamp(ceil(log2(N / EMB_TARGET_BUCKET)), 4, 16) keeps expected
    bucket size near the target; T = min(32, 12 + 2*(B-4)) spends the
    candidate savings on extra tables to hold recall.  n=500 (the
    committed test corpora) resolves to (4, 12), the round-4 values."""
    import math

    b = min(16, max(4, math.ceil(math.log2(max(n_rows, 1) / EMB_TARGET_BUCKET))))
    t = min(32, 12 + 2 * (b - 4))
    return b, t
# skew cap, shared with the DuckDB oracle CTEs (capped semantics stay
# value-identical): natural buckets top out ~55 at sf0.01 / ~221 at
# sf0.1, so 512 never clips organic data while a vector flood (
# thousands of identical embeddings -> one mega-bucket) is dropped
# from the candidate join; identical vectors are exact-dup territory
# (dedup_exact on a vector hash), not LSH's job.
EMB_BUCKET_CAP = 512
EMB_NEARDUP_THRESHOLD = 0.45

# Verify-stage strategy gate: when the full (n, DIM) float64 matrix is
# at most this many bytes it is broadcast and candidate pairs verify
# by GATHER (no vector-carrying shuffle join); above it the general
# join path runs.  64 MB = ~125k vectors at DIM=64 -- far below any
# executor-memory hazard, far above every committed corpus.
EMB_BCAST_VERIFY_MAX_BYTES = 64 << 20


def _stack_vectors(col: pd.Series) -> np.ndarray:
    """Stack an Arrow batch of embedding vectors into (n, DIM) float64,
    failing with a data-validation message (instead of an opaque numpy
    shape error deep inside the UDF) when a row is null or ragged."""
    vals = col.to_numpy()
    bad = [i for i, v in enumerate(vals) if v is None]
    if bad:
        raise ValueError(
            f"embedding column contains {len(bad)} null vector(s) in "
            f"this batch (first at batch row {bad[0]}); filter nulls "
            "before the LSH/cosine stage"
        )
    lens = {len(v) for v in vals} if len(vals) else set()
    if len(lens) > 1 or (lens and lens != {DIM}):
        raise ValueError(
            f"embedding vectors must all be length {DIM}; batch has "
            f"lengths {sorted(lens)}"
        )
    if not len(vals):
        return np.empty((0, DIM))
    return np.stack(vals)


def _bucket_udf(n_tables: int = N_TABLES, planes_per_table: int = PLANES_PER_TABLE):
    """Arrow-vectorized bucket assignment: ONE numpy matmul computes
    all T*B signed projections per batch, vs T*B interpreted
    higher-order-function folds per row (the fold form measured ~9 s
    at sf0.1; this is the 'Pandas UDFs beat per-row exprs' case --
    higher-order array lambdas are NOT codegen'd either)."""
    from pyspark.sql.functions import pandas_udf

    w = np.array(
        [
            [plane_weight(p, d) for d in range(1, DIM + 1)]
            for p in range(n_tables * planes_per_table)
        ]
    )  # (T*B, DIM)
    powers = np.array([2 ** b for b in range(planes_per_table)])

    @pandas_udf("array<int>")
    def buckets(col: pd.Series) -> pd.Series:
        v = _stack_vectors(col)  # (n, DIM) float64
        bits = (v @ w.T >= 0).astype(np.int64)  # (n, T*B)
        per_table = bits.reshape(
            len(v), n_tables, planes_per_table
        ) @ powers  # (n, T)
        return pd.Series(list(per_table.astype(np.int32)))

    return buckets


def _cosine_udf():
    """Arrow-vectorized RAW cosine (rounding stays JVM-side: F.round is
    half-away-from-zero like DuckDB round(); numpy round is
    half-even)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = _stack_vectors(va)
        b = _stack_vectors(vb)
        num = np.einsum("ij,ij->i", a, b)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        return pd.Series(num / den)

    return cos


def _cos_fold_udf():
    """Arrow-vectorized RAW cosine with LEFT-FOLD summation order —
    bit-identical to the interpreted ``F.aggregate`` fold that the
    declarative ``_dot``/``_norm`` columns compute (and that the
    DuckDB oracle's sequential ``list_dot_product`` matches):
    ``np.cumsum`` is the sequential partial-sum by definition, so
    ``cumsum[..., -1]`` equals the fold exactly, where einsum/``sum``
    may sum pairwise and drift 1 ulp.  The interpreted fold is
    evaluated per element per row by Catalyst (never codegen'd) and
    dominated the IVF queries; rounding stays JVM-side (F.round is
    half-away-from-zero; numpy round is half-even)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = _stack_vectors(va)
        b = _stack_vectors(vb)
        num = np.cumsum(a * b, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(b * b, axis=1)[:, -1])
        return pd.Series(num / (na * nb))

    return cos


def _gather_verify_df(emb, cand):
    """(vec_a, vec_b) id pairs -> + raw cosine, via a DRIVER-collected
    broadcast of the whole vector matrix (size-gated by the caller:
    this is the one place a corpus-sized collect is the scale-correct
    plan, exactly like Spark's own broadcast-join side, and only runs
    under EMB_BCAST_VERIFY_MAX_BYTES).  Arithmetic is identical to
    :func:`_cosine_udf` -- float64 gather + einsum + np.linalg.norm --
    so the two verify strategies are bit-for-bit interchangeable."""
    import pandas as pd

    rows = emb.collect()
    mat = np.array([r.v for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    order = np.argsort(ids, kind="stable").astype(np.int64)
    ids_sorted = ids[order]
    # row norms computed ONCE over the matrix (r9): identical values
    # to the old per-pair np.linalg.norm over gathered rows — same
    # rows, same reduction — but O(N) instead of O(pairs); likewise
    # the id lookup is a vectorized searchsorted instead of a 6M-row
    # Python-level pandas .map (the two together were ~80% of the
    # verify stage at the sf1 rehearsal)
    norms = np.linalg.norm(mat, axis=1)
    bc = emb.sparkSession.sparkContext.broadcast(
        (ids_sorted, order, mat, norms)
    )

    def verify_fn(batches):
        ids_s, ord_, m, nrm = bc.value

        def rows(vec_ids):
            # searchsorted lands on the NEAREST row for an id that is
            # not in the matrix; that must fail, not verify a stranger
            pos = np.minimum(np.searchsorted(ids_s, vec_ids), len(ids_s) - 1)
            bad = ids_s[pos] != vec_ids
            if bad.any():
                raise KeyError(
                    f"vec_id {vec_ids[bad][0]} is not in the verify matrix"
                )
            return ord_[pos]

        for pdf in batches:
            if not len(pdf):
                continue
            ia = rows(pdf["vec_a"].to_numpy())
            ib = rows(pdf["vec_b"].to_numpy())
            num = np.einsum("ij,ij->i", m[ia], m[ib])
            den = nrm[ia] * nrm[ib]
            yield pd.DataFrame(
                {"vec_a": pdf["vec_a"], "vec_b": pdf["vec_b"],
                 "raw": num / den}
            )

    return cand.mapInPandas(verify_fn, "vec_a bigint, vec_b bigint, raw double")


def dedup_embedding_lsh_pairs(
    spark,
    sf_dir,
    threshold: float = EMB_NEARDUP_THRESHOLD,
    bucket_cap: int = EMB_BUCKET_CAP,
    n_rows: int | None = None,
):
    """Embedding near-duplicate pairs at scale: hyperplane-LSH
    candidate generation + exact cosine verify -- the production twin
    of :func:`dedup_embedding_cosine` (which is O(N^2)).

    Plan shape (all linear in corpus size):
      1. one scan computes T*B signed projections per vector (one
         Arrow-batched numpy matmul) and emits (vec_id, table_idx,
         bucket) -- T rows/vector, ids only (the 64-dim payload does
         NOT ride through the explode);
      2. bucket sizes via a window on (table_idx, bucket): ONE shuffle
         whose hash partitioning the in-bucket self-join then reuses;
         buckets over ``bucket_cap`` are dropped (vector floods are
         exact-dup territory -- see EMB_BUCKET_CAP note);
      3. in-bucket join emits DISTINCT (vec_a < vec_b) id pairs;
      4. exact verify keeps cosine >= threshold (vectorized; rounded
         4dp JVM-side for oracle parity).  Strategy is size-gated:
         under EMB_BCAST_VERIFY_MAX_BYTES the whole vector matrix
         broadcasts and pairs verify by gather (r6: no vector-carrying
         shuffle -- 40 s -> 14.8 s at the 20k-vector sf1 point, where
         the join shipped ~6 GB of vectors to 6M pairs); above the
         gate, two vec_id-keyed shuffle joins (the general path).
         Both strategies are bit-for-bit interchangeable (same numpy
         ops; A/B + oracle parity tested).

    Float determinism vs the DuckDB oracle: numpy sums in SIMD/pairwise
    order, DuckDB sequentially -- they could differ only if a
    projection sat within ~1e-12 of 0 or a cosine within ~1e-12 of a
    .00005 rounding boundary; the oracle-parity tests (two SFs + the
    adversarial flood corpus) pin this for the committed data."""
    from pyspark.sql import Window

    emb = _vectors(spark, sf_dir)
    # adaptive banding: one metadata-cheap count (parquet footer
    # statistics -- no data scan; taken on an UN-spread read so the
    # count never executes the scan-floor repartition) picks (B, T)
    # via the shared policy
    if n_rows is None:
        n_rows = read_table(spark, sf_dir, "embeddings").count()
    b_planes, t_tables = emb_banding(n_rows)
    tb = emb.select(
        "vec_id",
        F.posexplode(
            _bucket_udf(t_tables, b_planes)("v")
        ).alias("table_idx", "bucket"),
    )
    bucket_n = F.count("*").over(Window.partitionBy("table_idx", "bucket"))
    # NOT checkpointed (r9, measured): the self-join does run the
    # projection UDF + window once per alias, but both passes are
    # cheap (ids-only proxy) and fully pipelined, while every
    # materialization variant serialized the in-bucket PAIR EXPLOSION
    # (~6M candidates at the sf1 rehearsal) behind the checkpointed
    # frame's post-AQE layout: plain localCheckpoint +45%, checkpoint
    # + bucket-keyed repartition ~6x worse.  The window's own hash
    # partitioning feeding the join directly is the fastest shape.
    capped = (
        tb.withColumn("bucket_n", bucket_n)
        .filter(F.col("bucket_n") <= bucket_cap)
        .select("vec_id", "table_idx", "bucket")
    )
    a = capped.alias("a")
    b_ = capped.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    if n_rows * DIM * 8 <= EMB_BCAST_VERIFY_MAX_BYTES:
        # broadcast-gather verify (r6): the whole vector matrix is
        # tiny relative to the candidate join it replaces (at the sf1
        # rehearsal: 10 MB broadcast vs ~6 GB of vectors shipped to
        # 6M pairs through two shuffle joins -- measured 40 s -> see
        # BASELINE.md).  Float ops are IDENTICAL to _cosine_udf
        # (einsum + np.linalg.norm on float64 rows), so results stay
        # bit-for-bit; rounding remains JVM-side.  Beyond the size
        # gate (corpora whose matrix no longer fits comfortably in
        # executor memory) the general shuffle-join path below takes
        # over unchanged.
        raw = _gather_verify_df(emb, cand)  # cand is already distinct
    else:
        ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
        eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
        raw = (
            cand.join(ea, "vec_a")
            .join(eb, "vec_b")
            .select(
                "vec_a", "vec_b", _cosine_udf()(F.col("va"), F.col("vb")).alias("raw")
            )
        )
    return (
        raw.select("vec_a", "vec_b", F.round("raw", 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def emb_bucket_stats(
    spark,
    sf_dir,
    bucket_cap: int = EMB_BUCKET_CAP,
    n_rows: int | None = None,
):
    """Monitoring companion to the embedding-LSH skew guard (mirrors
    dedup.minhash_band_stats): per-table bucket-size aggregates, how
    many buckets/vectors the cap would drop, and -- round 5 -- the
    CANDIDATE RATIO the banding implies: sum of n*(n-1)/2 over
    surviving (uncapped) buckets divided by the all-pairs count.  That
    ratio is the number an operator watches to see whether the
    adaptive banding is keeping the verify stage sub-quadratic as the
    corpus grows (it is an upper bound on distinct candidate pairs:
    cross-table duplicates are not collapsed here -- bucket-local
    aggregation keeps the monitor O(buckets), no pair materialization)."""
    emb = _vectors(spark, sf_dir)
    if n_rows is None:
        # un-spread metadata count, as in dedup_embedding_lsh_pairs
        n_rows = read_table(spark, sf_dir, "embeddings").count()
    b_planes, t_tables = emb_banding(n_rows)
    tb = emb.select(
        "vec_id",
        F.posexplode(
            _bucket_udf(t_tables, b_planes)("v")
        ).alias("table_idx", "bucket"),
    )
    counts = tb.groupBy("table_idx", "bucket").agg(
        F.count("*").alias("bucket_n")
    )
    total_pairs = n_rows * (n_rows - 1) // 2
    cand_bound = F.sum(
        F.when(
            F.col("bucket_n") <= bucket_cap,
            F.col("bucket_n") * (F.col("bucket_n") - 1) / 2,
        ).otherwise(0)
    ).cast("bigint")
    return counts.agg(
        F.count("*").alias("n_buckets"),
        F.max("bucket_n").alias("max_bucket"),
        F.sum(
            F.when(F.col("bucket_n") > bucket_cap, 1).otherwise(0)
        ).alias("buckets_dropped"),
        F.sum(
            F.when(F.col("bucket_n") > bucket_cap, F.col("bucket_n")).otherwise(
                0
            )
        ).alias("vecs_in_dropped"),
        cand_bound.alias("cand_pairs_bound"),
        F.round(cand_bound / F.lit(max(total_pairs, 1)), 6).alias(
            "cand_ratio"
        ),
    )


def _emb_tb_union(n_tables: int, planes_per_table: int) -> str:
    """The (vec_id, table_idx, bucket) UNION-ALL CTE body for a given
    banding -- shared by the stats and pairs oracles so both always
    mirror the Spark side's emb_banding-derived parameters."""
    tables = []
    for t in range(n_tables):
        bits = []
        for b in range(planes_per_table):
            p = t * planes_per_table + b
            seed = f"'{p}:' || d"
            plane = (
                f"list_transform(range(1, {DIM + 1}), d -> "
                f"((({_h64_duck(seed)}) % 2001 - 1000) / 1000.0))"
            )
            bits.append(
                f"(CASE WHEN list_dot_product(v, {plane}) >= 0 "
                f"THEN {2 ** b} ELSE 0 END)"
            )
        tables.append(
            f"SELECT vec_id, {t} AS table_idx, "
            f"({' + '.join(bits)})::INT AS bucket FROM emb"
        )
    return "\n  UNION ALL\n  ".join(tables)


def _emb_bucket_stats_sql(
    bucket_cap: int = EMB_BUCKET_CAP, n_rows: int = 500
) -> str:
    """Oracle for :func:`emb_bucket_stats`, generated for a corpus of
    ``n_rows`` (B/T via the shared :func:`emb_banding`; the module
    constant below is the driver corpus's n=500 instance)."""
    b_planes, t_tables = emb_banding(n_rows)
    total_pairs = max(n_rows * (n_rows - 1) // 2, 1)
    return f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), tb AS (
  {_emb_tb_union(t_tables, b_planes)}
), bc AS (
  SELECT table_idx, bucket, count(*) AS bucket_n
  FROM tb GROUP BY 1, 2
)
SELECT count(*) AS n_buckets,
       max(bucket_n) AS max_bucket,
       sum(CASE WHEN bucket_n > {bucket_cap} THEN 1 ELSE 0 END)::BIGINT
         AS buckets_dropped,
       sum(CASE WHEN bucket_n > {bucket_cap} THEN bucket_n ELSE 0 END)::BIGINT
         AS vecs_in_dropped,
       sum(CASE WHEN bucket_n <= {bucket_cap}
                THEN bucket_n * (bucket_n - 1) / 2 ELSE 0 END)::BIGINT
         AS cand_pairs_bound,
       round(sum(CASE WHEN bucket_n <= {bucket_cap}
                      THEN bucket_n * (bucket_n - 1) / 2 ELSE 0 END)
             / {total_pairs}, 6) AS cand_ratio
FROM bc
"""


EMB_BUCKET_STATS_SQL = _emb_bucket_stats_sql()


def _emb_lsh_pairs_sql(
    threshold: float = EMB_NEARDUP_THRESHOLD,
    bucket_cap: int = EMB_BUCKET_CAP,
    n_rows: int = 500,
) -> str:
    """Oracle for :func:`dedup_embedding_lsh_pairs`, generated for a
    corpus of ``n_rows`` (B/T via the shared :func:`emb_banding`).
    Tests on custom corpora MUST regenerate with their own n_rows;
    the module constant below is the driver corpus's n=500 instance."""
    b_planes, t_tables = emb_banding(n_rows)
    return f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), tb AS (
  {_emb_tb_union(t_tables, b_planes)}
), capped AS (
  SELECT vec_id, table_idx, bucket FROM (
    SELECT vec_id, table_idx, bucket,
           count(*) OVER (PARTITION BY table_idx, bucket) AS bucket_n
    FROM tb)
  WHERE bucket_n <= {bucket_cap}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM capped a JOIN capped b
    ON a.table_idx = b.table_idx AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
), verified AS (
  SELECT c.vec_a, c.vec_b,
         round(list_dot_product(ea.v, eb.v)
               / (sqrt(list_dot_product(ea.v, ea.v))
                  * sqrt(list_dot_product(eb.v, eb.v))), 4) AS cosine
  FROM cand c
  JOIN emb ea ON ea.vec_id = c.vec_a
  JOIN emb eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine FROM verified
WHERE cosine >= {threshold} ORDER BY vec_a, vec_b
"""


DEDUP_EMB_LSH_SQL = _emb_lsh_pairs_sql()


N_IVF_CELLS = 8


def ann_ivf_topk(spark, sf_dir):
    """IVF variant: vectors 0..7 act as deterministic cell centroids;
    every vector is assigned to its nearest centroid (cosine, ties ->
    lower centroid id) and in-cell top-3 neighbors are returned for the
    cell of each query vector 0..2.  The scale path: candidate search
    touches one cell, not the corpus."""
    emb = _vectors(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") < N_IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv")
    )
    from pyspark.sql import Window

    # materialized once (eager localCheckpoint): the query filter and
    # the probe join both consume the assignment, which would
    # otherwise run the scored cross-join + argmax twice (r9)
    assigned = _assign(emb, cents).localCheckpoint()
    queries = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cell_id").alias("qcell"),
    )
    cand = assigned.join(
        F.broadcast(queries),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    # r9: fold-exact Arrow cosine (see _cos_fold_udf)
    cos = F.round(_cos_fold_udf()(F.col("v"), F.col("qv")), 4)
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        cand.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 3)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


ANN_IVF_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM emb WHERE vec_id < {N_IVF_CELLS}
), scored AS (
  SELECT e.vec_id, e.v, c.cell_id,
         round(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
  FROM emb e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cell_id) AS rn
    FROM scored
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv, cell_id AS qcell
  FROM assigned WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(a.v, q.qv)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
  FROM assigned a JOIN q
    ON a.cell_id = q.qcell AND a.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM cand
) WHERE rank <= 3 ORDER BY query_id, rank
"""


# ------------------------------------------------------------------ #
# trained IVF: hash-sampled seeds + one Lloyd iteration               #
# ------------------------------------------------------------------ #


def _assign(emb, cents):
    """Nearest-centroid assignment (cosine, ties -> lower cell id) as
    a MAP-SIDE PARTIAL-AGG argmax: ``max_by(cell_id, struct(sim,
    -cell_id))`` under a ``groupBy(vec_id)``.  The broadcast crossJoin
    keeps all k scored rows of a vector in its input partition, so the
    partial aggregate collapses them to ONE row per vec_id before the
    exchange -- shuffle volume is N rows (one vector each) regardless
    of the centroid count k.  The previous ``Window.partitionBy
    (vec_id) + row_number`` shape shuffled all k*N scored rows, each
    carrying the full embedding -- k* the traffic, growing with every
    added cell (r5 verdict finding #1).

    Struct comparison is lexicographic by field order, so maximizing
    (sim, -cell_id) is exactly sim DESC, cell_id ASC -- the same
    deterministic tie rule as the oracle's row_number ordering.  ``v``
    is constant within a vec_id group, so any_value is
    value-deterministic."""
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "cell_id",
        # r9: fold-exact Arrow cosine (see _cos_fold_udf) — same
        # values as the interpreted _dot/_norm fold, ~vectorized
        F.round(_cos_fold_udf()(F.col("v"), F.col("cv")), 6).alias(
            "sim"
        ),
    )
    return scored.groupBy("vec_id").agg(
        F.any_value("v").alias("v"),
        F.max_by(
            "cell_id", F.struct(F.col("sim"), (-F.col("cell_id")).alias("nc"))
        ).alias("cell_id"),
    )


def ann_ivf_trained_topk(spark, sf_dir):
    """IVF with TRAINED centroids: seeds are a deterministic hash
    sample of the corpus (the 8 vectors with the smallest md5(vec_id)),
    refined by one Lloyd iteration (assign -> per-cell mean, rounded to
    6dp so Spark and DuckDB agree bit-for-bit), then the standard
    probe-one-cell top-3 search.  This is the sampled-seed + k-means
    shape a production index build uses -- only the iteration count is
    truncated; each extra iteration is the same assign+mean pair of
    stages.  Centroid update shuffles (cell_id, dim) partial sums --
    O(k * dim) state, independent of corpus size."""
    from pyspark.sql import Window

    emb = _vectors(spark, sf_dir)
    hk = _h64(F.col("vec_id").cast("string"))
    # top-8 by hash = TakeOrderedAndProject (per-partition partial
    # top-k + tiny final merge), NOT a global sort -- scale-safe
    top = (
        emb.select(hk.alias("hk"), "vec_id", "v")
        .orderBy("hk", "vec_id")
        .limit(N_IVF_CELLS)
    )
    # enumerate the k seeds DRIVER-SIDE: collect the 8 TakeOrdered rows
    # once and rebuild a literal frame.  An in-plan global window over
    # them is bounded but (a) logs the WindowExec single-partition
    # warning (a partitionBy(lit) spec gets constant-folded away) and
    # (b) re-evaluates the whole seed subtree at every downstream
    # reference (4x here).  k is tiny by construction, so this is the
    # one place a driver-side action is the scale-correct plan.
    seed_rows = sorted(top.collect(), key=lambda r: (r.hk, r.vec_id))
    seeds = spark.createDataFrame(
        [(i, list(r.v)) for i, r in enumerate(seed_rows)],
        "cell_id int, cv array<double>",
    )
    assigned0 = _assign(emb, seeds)
    # Lloyd update: per-cell dimension means (rounded for cross-engine
    # determinism), reassembled in dimension order
    dims = assigned0.select("cell_id", F.posexplode("v").alias("dim", "x"))
    means = dims.groupBy("cell_id", "dim").agg(F.avg("x").alias("m"))
    cents1 = means.groupBy("cell_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: F.round(s.m, 6),
        ).alias("cv")
    )
    # materialized once (eager localCheckpoint): assigned1 feeds BOTH
    # the query filter and the probe join, and each reference would
    # otherwise re-run the entire seed->assign->Lloyd-mean->re-assign
    # chain (two full scored cross-joins over the corpus per
    # reference; the r9 plan had 30 Exchanges for this one query).
    # The materialized frame is exactly the IVF index artifact a
    # production build persists anyway.
    assigned1 = _assign(emb, cents1).localCheckpoint()

    queries = assigned1.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cell_id").alias("qcell"),
    )
    cand = assigned1.join(
        F.broadcast(queries),
        (F.col("cell_id") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    # r9: fold-exact Arrow cosine (see _cos_fold_udf)
    cos = F.round(_cos_fold_udf()(F.col("v"), F.col("qv")), 4)
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        cand.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 3)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


ANN_IVF_TRAINED_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), seeds AS (
  SELECT (row_number() OVER (
            ORDER BY {_H64_VEC},
                     vec_id) - 1)::INT AS cell_id,
         v AS cv
  FROM emb
  QUALIFY row_number() OVER (
      ORDER BY {_H64_VEC},
               vec_id) <= {N_IVF_CELLS}
), scored0 AS (
  SELECT e.vec_id, e.v, s.cell_id,
         round(list_dot_product(e.v, s.cv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(s.cv, s.cv))), 6) AS sim
  FROM emb e CROSS JOIN seeds s
), assigned0 AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cell_id) AS rn
    FROM scored0) WHERE rn = 1
), dims AS (
  SELECT cell_id, i AS dim, v[i] AS x
  FROM assigned0, range(1, {DIM + 1}) t(i)
), means AS (
  SELECT cell_id, dim, avg(x) AS m FROM dims GROUP BY 1, 2
), cents1 AS (
  SELECT cell_id,
         list_transform(list(m ORDER BY dim), y -> round(y, 6)) AS cv
  FROM means GROUP BY cell_id
), scored1 AS (
  SELECT e.vec_id, e.v, c.cell_id,
         round(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
  FROM emb e CROSS JOIN cents1 c
), assigned1 AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cell_id) AS rn
    FROM scored1) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv, cell_id AS qcell
  FROM assigned1 WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(a.v, q.qv)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
  FROM assigned1 a JOIN q
    ON a.cell_id = q.qcell AND a.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM cand
) WHERE rank <= 3 ORDER BY query_id, rank
"""


QUERIES = {
    "embedding_cosine_topk": cosine_topk,
    "ann_lsh_buckets": ann_lsh_buckets,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh_pairs": dedup_embedding_lsh_pairs,
    "emb_bucket_stats": emb_bucket_stats,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_trained_topk": ann_ivf_trained_topk,
}

ORACLES = {
    "dedup_embedding_lsh_pairs": DEDUP_EMB_LSH_SQL,
    "emb_bucket_stats": EMB_BUCKET_STATS_SQL,
    "embedding_cosine_topk": COSINE_TOPK_SQL,
    "ann_lsh_buckets": ANN_LSH_SQL,
    "dedup_embedding_cosine": DEDUP_EMB_COS_SQL,
    "ann_ivf_topk": ANN_IVF_SQL,
    "ann_ivf_trained_topk": ANN_IVF_TRAINED_SQL,
}
