"""Deduplication operators for large-scale training-data pipelines.

Four families, each as a (Spark DataFrame, DuckDB oracle SQL) pair over
the ``documents`` table; all hashing is md5-derived so both engines
compute bit-identical values:

- exact dedup: hash-groupBy on md5(text), keep min doc_id.
- n-gram Jaccard: token 3-gram shingles, exact pairwise similarity via
  a shingle-equality self-join (intersection counts) -- the
  correctness baseline the sketch methods approximate.
- MinHash + LSH: b*r signatures over shingle hashes in b bands of r
  (adaptive via :func:`minhash_banding`; <=1000 docs = the legacy 8
  signatures, 4 bands of 2); band-equality buckets yield candidate
  pairs without the N^2 join -- the 100 TB-scale path (shuffle keyed
  on band values, skew-safe since signatures are uniform).
- SimHash: 32-bit sign-sketch of the token set; near-dup candidates
  have small Hamming distance.

Scale note: at 10^12 docs the Jaccard self-join is infeasible (its
shingle join explodes); minhash bands keep the shuffle linear in corpus
size, and the band join is a narrow (band_key -> [doc_id]) exchange.
That hierarchy (exact -> LSH candidates -> verify) is the intended
production composition.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import TOKENS as _TOKENS
from ..functions import TOKENS_DUCK as _TOKENS_DUCK
from ..functions import doc_stage
from ..functions import h64 as _h64
from ..functions import h64_duck as _h64_duck
from ..functions import shingle_set
from ..functions import shingles_duck as _mk_shingles_duck
from .scanspread import read_table

# md5-hex prefix -> bigint, identical in Spark and DuckDB
# Spark:  conv(substring(md5(x), 1, 15), 16, 10)::bigint
# DuckDB: ('0x' || substring(md5(x), 1, 15))::BIGINT
_P = 2147483647  # 2^31-1, keeps a*h+b within 63 bits (a < 2^16 -> a*h < 2^47)
# Affine minhash coefficients.  The FIRST 8 are the legacy family --
# unchanged bit-for-bit so every committed corpus row stays stable;
# entries 8..31 extend the family for the adaptive widths below.
_MINHASH_AB = [
    (387, 10283),
    (1021, 74099),
    (2667, 33223),
    (4093, 91121),
    (5749, 55313),
    (7919, 20201),
    (9241, 68207),
    (10369, 41911),
    (11587, 30293),
    (12721, 83231),
    (13687, 57529),
    (14879, 12097),
    (16063, 77573),
    (17299, 41039),
    (18523, 90821),
    (19709, 25763),
    (20921, 64601),
    (22093, 18341),
    (23279, 87119),
    (24473, 52561),
    (25667, 9973),
    (26861, 73009),
    (28057, 36493),
    (29251, 98519),
    (30449, 21067),
    (31643, 69427),
    (32839, 44699),
    (34031, 15083),
    (35227, 80329),
    (36433, 58111),
    (37633, 27803),
    (38833, 91457),
]
N_BANDS = 4  # legacy banding: 8 signatures, 4 bands of 2

# Adaptive MinHash width (round 6, mirroring similarity.emb_banding):
# as the corpus grows, background pairs start colliding in 2-row
# bands (per-band collision prob s^r, and candidate volume scales with
# N * collisions-per-doc), so rows-per-band r gains one row per 10x
# growth past the legacy floor and bands b = 4 + 2*(r-2) spend part of
# the precision win on recall.  Every committed corpus (<= 1000 docs)
# resolves to the legacy (4, 2) = 8 signatures, so driver/suite rows
# are bit-stable; sf0.1 (5000 docs) resolves to (6, 3) and the sf1
# rehearsal corpus (50k) to (8, 4).  Oracle CTEs take the same n_rows
# and derive (b, r) through THIS function, so the two sides cannot
# drift -- non-legacy corpora must regenerate their SQL via
# ``_minhash_pairs_ctes(n_rows=...)`` (the exported ORACLES strings
# are the legacy instance).
MINHASH_LEGACY_N = 1000


def minhash_banding(n_docs: int) -> "tuple[int, int]":
    """(bands b, rows-per-band r) for a corpus of ``n_docs``:
    r = min(4, 2 + ceil(log10(N/1000))) past the legacy floor,
    b = 4 + 2*(r-2); signature width k = b*r (8/18/32)."""
    import math

    extra = 0
    if n_docs > MINHASH_LEGACY_N:
        extra = math.ceil(math.log10(n_docs / MINHASH_LEGACY_N))
    r = min(4, 2 + extra)
    b = 4 + 2 * (r - 2)
    return b, r


_SHINGLES_DUCK = _mk_shingles_duck(3)

# band-bucket skew cap, shared by the Spark operator AND the DuckDB
# oracle CTEs so capped semantics stay value-identical; non-default
# caps therefore diverge from oracle_sql() and are for ad-hoc use only
BUCKET_CAP = 64


# ------------------------------------------------------------------ #


def dedup_exact(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("content_hash")
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text) ORDER BY content_hash
"""


# ------------------------------------------------------------------ #


def dedup_ngram_jaccard(spark, sf_dir, threshold: float = 0.5):
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_TOKENS).alias("toks"))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN "
                "transform(sequence(1, size(toks) - 2), "
                "i -> concat_ws(' ', slice(toks, i, 3))) "
                "ELSE array() END"
            ).alias("shingles"),
        )
    )
    sets = docs.select(
        "doc_id", F.array_distinct("shingles").alias("shingles")
    ).withColumn("set_size", F.size("shingles"))
    ex = sets.select(
        "doc_id", "set_size", F.explode("shingles").alias("shingle")
    )
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jacc = F.round(
        F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 4
    )
    return (
        pairs.select("doc_a", "doc_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_NGRAM_SQL = f"""
WITH sets AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS shingles
  FROM documents WHERE len({_TOKENS_DUCK}) >= 3
), sized AS (
  SELECT doc_id, shingles, len(shingles) AS set_size FROM sets
), ex AS (
  SELECT doc_id, set_size, unnest(shingles) AS shingle FROM sized
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.set_size AS size_a, b.set_size AS size_b,
         count(*) AS inter
  FROM ex a JOIN ex b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(inter / (size_a + size_b - inter), 4) AS jaccard
FROM pairs
WHERE round(inter / (size_a + size_b - inter), 4) >= 0.5
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------------ #


def minhash_candidate_pairs(
    docs: DataFrame,
    bucket_cap: int = BUCKET_CAP,
    banding: "tuple[int, int] | None" = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs over ANY (doc_id,
    text) frame, UNSORTED -- consumers that don't need presentation
    order (cluster resolution, the pipeline job's near-dup stage) use
    this directly and skip the global sort.

    Banding resolves through :func:`minhash_banding`: pass ``n_docs``
    when the caller already knows the corpus size (the pipeline job
    counts survivors for its summary anyway -- no extra pass), else
    one ``docs.count()`` derives it (a parquet-footer metadata count
    on plain scans).  An explicit ``banding`` tuple overrides both.

    Plan shape: the Arrow signature pass has exactly ONE consumer, so
    it runs once at every scale.  The flood-safe ``bucket_n`` window
    drops buckets over ``bucket_cap`` before anything is collected;
    the ``band_key`` groupBy then reuses the window's exchange and
    collects each surviving bucket's sorted doc_ids (at most
    ``bucket_cap``), and the in-bucket pairs are generated inside the
    row.  Same pairs as the capped band self-join of the oracle CTEs,
    whose two aliases would each re-run the signature pass."""
    from pyspark.sql import Window

    if banding is None:
        if n_docs is None:
            n_docs = docs.count()
        banding = minhash_banding(n_docs)
    bucket_n = F.count("*").over(Window.partitionBy("band_key"))
    buckets = (
        minhash_bands_df(docs, banding)
        .withColumn("bucket_n", bucket_n)
        .filter(F.col("bucket_n") <= bucket_cap)
        .groupBy("band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        # a lone id pairs with nothing, and sequence(0, -1) below
        # would count down instead of coming out empty
        .filter(F.size("ids") >= 2)
    )
    in_bucket = F.expr(
        "flatten(transform(sequence(0, size(ids) - 2), i -> "
        "transform(sequence(i + 1, size(ids) - 1), j -> "
        "named_struct('doc_a', ids[i], 'doc_b', ids[j]))))"
    )
    return (
        buckets.select(F.explode(in_bucket).alias("p"))
        .select("p.doc_a", "p.doc_b")
        # equal ids only come from repeated doc_id rows
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def _minhash_pairs(spark, sf_dir, bucket_cap: int = BUCKET_CAP):
    # corpus size from the UN-spread scan (parquet-footer metadata
    # count); the spread frame's count() would execute the repartition
    n_docs = read_table(spark, sf_dir, "documents").count()
    return minhash_candidate_pairs(
        read_table(spark, sf_dir, "documents", spread=True),
        bucket_cap,
        n_docs=n_docs,
    )


def dedup_minhash_lsh(spark, sf_dir, bucket_cap: int = BUCKET_CAP):
    """MinHash signatures + banded LSH candidate pairs.

    Skew guard: a band bucket holding B docs emits B^2/2 pairs, so a
    flood of identical boilerplate (millions of copies of one page)
    would turn the band join quadratic.  Buckets larger than
    ``bucket_cap`` are dropped from the candidate join -- membership in
    a flood bucket means near-exact duplication, which the exact-dedup
    pass (hash groupBy, linear) already resolves; the LSH pass exists
    for the long tail of NEAR duplicates.  The DuckDB oracle applies
    the SAME cap (shared ``BUCKET_CAP`` constant in its CTEs), so the
    parity invariant holds even on flood corpora;
    ``minhash_band_stats`` reports dropped buckets for monitoring.
    """
    return _minhash_pairs(spark, sf_dir, bucket_cap).orderBy(
        "doc_a", "doc_b"
    )


def minhash_sigs_df(docs_in: DataFrame, n_sig: int = 8) -> DataFrame:
    """(doc_id, text) -> (doc_id, mh0..mh{n_sig-1}): the minhash
    signatures (default: the legacy 8), computed in ONE map-side
    Arrow pass.

    Why not the declarative form (tokenize/shingle HOFs + explode +
    8-min groupBy)?  Measured at sf0.1: the Catalyst higher-order
    functions (split/transform/slice/concat_ws/array_distinct) are
    interpreted per element -- the skeleton costs ~4 s even with the
    hashing replaced by min(length(s)), i.e. the HOFs dominate, and
    the exploded shingle STRINGS then shuffle to the aggregate.  This
    pass emits one 8-int row per document: no shingle materialization
    JVM-side, no corpus-sized string shuffle, and the signature stage
    becomes embarrassingly parallel.  Values are bit-identical to the
    DuckDB oracle CTEs (md5 hex prefix -> int64; exact integer affine
    mins; tokenizer and hash are the shared ``functions`` twins)."""
    import numpy as np

    if n_sig > len(_MINHASH_AB):
        raise ValueError(
            f"n_sig={n_sig} exceeds the {len(_MINHASH_AB)}-entry "
            "coefficient family"
        )
    ab = _MINHASH_AB[:n_sig]
    coeff_a = np.array([a for a, _ in ab], dtype=np.int64)[:, None]
    coeff_b = np.array([b for _, b in ab], dtype=np.int64)[:, None]

    def sig(toks, h):
        if len(toks) < 3:
            return ()
        shingles = shingle_set(toks)
        v = np.array(h(shingles), dtype=np.uint64)
        hs = (v >> 4).astype(np.int64) % _P  # h60 % P
        # a*h+b < 2^47: exact in int64, identical to JVM pmod
        mins = ((coeff_a * hs + coeff_b) % _P).min(axis=1)
        return [[m] for m in mins.tolist()]

    return doc_stage(
        docs_in, sig, ", ".join(f"mh{i} bigint" for i in range(n_sig))
    )


def minhash_bands_df(
    docs_in: DataFrame, banding: "tuple[int, int]" = (N_BANDS, 2)
) -> DataFrame:
    """(doc_id, text) -> (doc_id, band_key) rows: b*r minhash
    signatures in b bands of r (default: the legacy 4 bands of 2).
    Band j's key concatenates the band index with signatures
    mh[j*r .. j*r+r-1] -- for r=2 this reproduces the legacy key
    strings byte-for-byte."""
    b, r = banding
    sig = minhash_sigs_df(docs_in, b * r)
    bands = sig.select(
        "doc_id",
        *[
            F.concat_ws(
                "-",
                F.lit(str(j)),
                *[F.col(f"mh{j * r + i}") for i in range(r)],
            ).alias(f"band{j}")
            for j in range(b)
        ],
    )
    return bands.select(
        "doc_id",
        F.explode(F.array(*[F.col(f"band{j}") for j in range(b)])).alias(
            "band_key"
        ),
    )


def minhash_band_stats(spark, sf_dir, bucket_cap: int = BUCKET_CAP):
    """Monitoring companion to the skew guard: bucket-size histogram
    plus how many buckets/docs the cap would drop."""
    docs = read_table(spark, sf_dir, "documents")
    counts = minhash_bands_df(
        docs, minhash_banding(docs.count())
    ).groupBy("band_key").agg(
        F.count("*").alias("bucket_n")
    )
    return counts.agg(
        F.count("*").alias("n_buckets"),
        F.max("bucket_n").alias("max_bucket"),
        F.sum(F.when(F.col("bucket_n") > bucket_cap, 1).otherwise(0)).alias(
            "buckets_dropped"
        ),
        F.sum(
            F.when(F.col("bucket_n") > bucket_cap, F.col("bucket_n")).otherwise(0)
        ).alias("docs_in_dropped"),
    )


def _minhash_pairs_ctes(n_rows: int | None = None) -> str:
    """CTE list ending in ``lsh_pairs(doc_a, doc_b)`` -- shared by the
    candidate-pair oracle, the verified oracle, and the
    cluster-resolution oracle.  ``n_rows`` resolves the banding
    through the SAME :func:`minhash_banding` the Spark side uses
    (None -> legacy 4x2, the exported-ORACLES instance; every
    committed corpus is <= MINHASH_LEGACY_N docs so it resolves
    identically)."""
    b_bands, r_rows = (
        minhash_banding(n_rows) if n_rows is not None else (N_BANDS, 2)
    )
    k = b_bands * r_rows
    mh_exprs = ",\n         ".join(
        f"min(({a} * h + {b}) % {_P}) AS mh{i}"
        for i, (a, b) in enumerate(_MINHASH_AB[:k])
    )
    band_exprs = ", ".join(
        f"'{j}' || '-' || "
        + " || '-' || ".join(f"mh{j * r_rows + i}" for i in range(r_rows))
        + f" AS band{j}"
        for j in range(b_bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, band{j} AS band_key FROM bands"
        for j in range(b_bands)
    )
    return f"""ex AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_DUCK})) AS sh
  FROM documents WHERE len({_TOKENS_DUCK}) >= 3
), hs AS (
  SELECT doc_id, ({_h64_duck('sh')}) % {_P} AS h
  FROM ex
), sig AS (
  SELECT doc_id,
         {mh_exprs}
  FROM hs GROUP BY doc_id
), bands AS (
  SELECT doc_id, {band_exprs} FROM sig
), stacked AS (
  {band_union}
), capped AS (
  SELECT doc_id, band_key FROM (
    SELECT doc_id, band_key,
           count(*) OVER (PARTITION BY band_key) AS bucket_n
    FROM stacked)
  WHERE bucket_n <= {BUCKET_CAP}
), lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


def _minhash_lsh_sql(n_rows: int | None = None) -> str:
    return f"""
WITH {_minhash_pairs_ctes(n_rows)}
SELECT doc_a, doc_b FROM lsh_pairs ORDER BY doc_a, doc_b
"""


def _minhash_band_stats_sql(n_rows: int | None = None) -> str:
    return f"""
WITH {_minhash_pairs_ctes(n_rows)},
bc AS (
  SELECT band_key, count(*) AS bucket_n FROM stacked GROUP BY band_key
)
SELECT count(*) AS n_buckets,
       max(bucket_n) AS max_bucket,
       sum(CASE WHEN bucket_n > {BUCKET_CAP} THEN 1 ELSE 0 END)::BIGINT
         AS buckets_dropped,
       sum(CASE WHEN bucket_n > {BUCKET_CAP} THEN bucket_n ELSE 0 END)::BIGINT
         AS docs_in_dropped
FROM bc
"""


DEDUP_MINHASH_SQL = _minhash_lsh_sql()

MINHASH_BAND_STATS_SQL = _minhash_band_stats_sql()


# ------------------------------------------------------------------ #


def simhash_sigs_df(docs_in: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, simhash): 64-bit SimHash over the
    distinct token set, one map-side Arrow pass (same rationale as
    :func:`minhash_sigs_df` -- the declarative form pays interpreted
    tokenizer HOFs plus a 64-conditional-sum shuffle of exploded token
    strings; this emits one int per doc, bit-identical to the oracle).

    64 bits (widened from 32 in round 5): at 10^12 docs, random 32-bit
    collisions alone flood Hamming<=3, and the 8-bit chunk keys of the
    old pairing join gave only 1,024 distinct join keys.  Bit b of the
    signature votes on bit b of the per-token hash; the token hash is
    two 32-bit md5 hex windows (chars 1-8 -> bits 0..31, chars 9-16 ->
    bits 32..63), parsed identically by DuckDB, so both engines see the
    same 64 independent bits.  The signature is the two's-complement
    signed 64-bit recompose (bit 63 contributes -2^63), matching
    Spark LongType / DuckDB BIGINT exactly."""
    import numpy as np

    # bits 0..62 recompose positively; bit 63 is the sign bit
    powers = [1 << b for b in range(63)]
    shifts = np.arange(32)

    def sig(toks, h):
        distinct = set(toks)
        if not distinct:
            return ()
        v = np.array(h(distinct), dtype=np.uint64)
        # hex chars 1-8 are the high digest word, 9-16 the low one
        hs_lo = (v >> 32).astype(np.int64)
        hs_hi = (v & 0xFFFFFFFF).astype(np.int64)
        bits = np.concatenate(
            [(hs_lo[:, None] >> shifts) & 1, (hs_hi[:, None] >> shifts) & 1],
            axis=1,
        )  # (n, 64)
        votes = (2 * bits - 1).sum(axis=0)  # +1/-1 per bit
        val = sum(p for b, p in enumerate(powers) if votes[b] > 0)
        if votes[63] > 0:
            val -= 1 << 63  # two's-complement sign bit
        return ([val],)

    return doc_stage(docs_in, sig, "simhash bigint")


def dedup_simhash(spark, sf_dir):
    """64-bit SimHash over the distinct token set."""
    return simhash_sigs_df(
        read_table(spark, sf_dir, "documents", spread=True)
    ).orderBy(
        "doc_id"
    )


def _simhash_ctes() -> str:
    """CTE list ending in ``sig(doc_id, simhash)`` -- shared by the
    signature oracle and the candidate-pairs oracle (mirrors
    :func:`_minhash_pairs_ctes`; no string surgery between builders).
    64-bit: h_lo/h_hi are the two 32-bit md5 hex windows; bit 63
    recomposes as -2^63 (signed BIGINT two's complement, matching the
    Spark LongType value exactly)."""
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h_lo >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(32)
    ) + ",\n         " + ",\n         ".join(
        f"sum(CASE WHEN (h_hi >> {b - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(32, 64)
    )
    recompose = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(63)
    ) + " + (CASE WHEN s63 > 0 THEN -9223372036854775808 ELSE 0 END)"
    return f"""ex AS (
  SELECT doc_id, unnest(list_distinct({_TOKENS_DUCK})) AS tok
  FROM documents WHERE len({_TOKENS_DUCK}) > 0
), hs AS (
  SELECT doc_id,
         ('0x' || substring(md5(tok), 1, 8))::BIGINT AS h_lo,
         ('0x' || substring(md5(tok), 9, 8))::BIGINT AS h_hi
  FROM ex
), sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM hs GROUP BY doc_id
), sig AS (
  SELECT doc_id, ({recompose})::BIGINT AS simhash FROM sums
)"""


DEDUP_SIMHASH_SQL = f"""
WITH {_simhash_ctes()}
SELECT doc_id, simhash FROM sig ORDER BY doc_id
"""


# ------------------------------------------------------------------ #
# SimHash candidate pairs: chunk-bucketed Hamming join                 #
# ------------------------------------------------------------------ #


def dedup_simhash_pairs(
    spark, sf_dir, max_hamming: int = 3, bucket_cap: int = BUCKET_CAP
):
    """Near-dup candidate pairs from the 64-bit SimHash WITHOUT an
    all-pairs scan: split the signature into 4 x 16-bit chunks -- by
    pigeonhole, any pair within Hamming distance <= 3 agrees on at
    least one whole chunk -- join on the combined chunk key, then
    verify exact Hamming distance columnar with bit_count(a XOR b).
    65,536 possible values per chunk index (vs 256 for the old byte
    chunks) keep buckets thin as the corpus grows, and -- same skew
    guard as :func:`dedup_minhash_lsh` -- buckets larger than
    ``bucket_cap`` are dropped from the join entirely: membership in a
    flood bucket means near-exact duplication, which the exact-dedup
    pass already resolves linearly.  The DuckDB oracle applies the SAME
    cap (shared ``BUCKET_CAP`` constant), so parity holds on flood
    corpora; the cap is counted by a window on ``chunk_key``, whose
    hash partitioning is exactly what the self-join needs, so the
    guard adds no extra exchange."""
    from pyspark.sql import Window

    # unsorted signatures: dedup_simhash's presentation orderBy would
    # inject a global range exchange per join side for nothing
    from .scanspread import barrier_pays

    n_docs = read_table(spark, sf_dir, "documents").count()  # metadata count
    sig = simhash_sigs_df(read_table(spark, sf_dir, "documents", spread=True))
    # single join key = chunk_idx * 2^16 + chunk_val: one column to
    # window over AND to join on (shuffle partitioning reused)
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    (
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(65535))
                        + F.lit(i * 65536)
                    ).cast("long")
                    for i in range(4)
                ]
            )
        ).alias("chunk_key"),
    )
    bucket_n = F.count("*").over(Window.partitionBy("chunk_key"))
    # materialized once per invocation (eager localCheckpoint) above
    # the barrier_pays crossover: the self-join would otherwise run
    # the Arrow signature pass + chunk window TWICE, once per alias
    # ((doc_id, simhash, chunk_key) is the lightweight proxy, 4 rows
    # per doc).  localCheckpoint, not persist: the CacheManager
    # matches persisted plans across invocations.
    capped = (
        chunks.withColumn("bucket_n", bucket_n)
        .filter(F.col("bucket_n") <= bucket_cap)
        .select("doc_id", "simhash", "chunk_key")
    )
    if barrier_pays(n_docs):
        # the re-spread restores full parallelism for the in-bucket
        # pair join (the checkpointed frame keeps the window's
        # AQE-coalesced ~1-partition layout) at the cost of one tiny
        # proxy shuffle, which the chunk-keyed join then reuses
        capped = capped.localCheckpoint().repartition(
            spark.sparkContext.defaultParallelism, "chunk_key"
        )
    a = capped.alias("a")
    b = capped.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _simhash_pairs_sql(max_hamming: int = 3) -> str:
    return f"""
WITH {_simhash_ctes()}, chunks AS (
  SELECT doc_id, simhash,
         ((simhash >> (16 * i)) & 65535) + i * 65536 AS chunk_key
  FROM sig, unnest([0, 1, 2, 3]) AS t(i)
), capped AS (
  SELECT doc_id, simhash, chunk_key FROM (
    SELECT doc_id, simhash, chunk_key,
           count(*) OVER (PARTITION BY chunk_key) AS bucket_n
    FROM chunks)
  WHERE bucket_n <= {BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM capped a JOIN capped b
  ON a.chunk_key = b.chunk_key
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


DEDUP_SIMHASH_PAIRS_SQL = _simhash_pairs_sql()


def simhash_chunk_stats(spark, sf_dir, bucket_cap: int = BUCKET_CAP):
    """Monitoring companion to the SimHash chunk-bucket cap (round 5;
    mirrors :func:`minhash_band_stats` / ``emb_bucket_stats``):
    chunk-bucket occupancy, how many buckets/docs the cap drops, and
    the surviving-candidate upper bound + ratio -- the number an
    operator watches to see a boilerplate flood before it sees a slow
    pairing join.  O(buckets) frame, no pair materialization."""
    sig = simhash_sigs_df(read_table(spark, sf_dir, "documents", spread=True))
    chunks = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    (
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(65535))
                        + F.lit(i * 65536)
                    ).cast("long")
                    for i in range(4)
                ]
            )
        ).alias("chunk_key"),
    )
    counts = chunks.groupBy("chunk_key").agg(F.count("*").alias("bucket_n"))
    n_docs = F.sum("bucket_n") / 4  # each doc contributes 4 chunk rows
    cand_bound = F.sum(
        F.when(
            F.col("bucket_n") <= bucket_cap,
            F.col("bucket_n") * (F.col("bucket_n") - 1) / 2,
        ).otherwise(0)
    ).cast("bigint")
    return counts.agg(
        F.count("*").alias("n_buckets"),
        F.max("bucket_n").alias("max_bucket"),
        F.sum(F.when(F.col("bucket_n") > bucket_cap, 1).otherwise(0)).alias(
            "buckets_dropped"
        ),
        F.sum(
            F.when(F.col("bucket_n") > bucket_cap, F.col("bucket_n")).otherwise(0)
        ).alias("docs_in_dropped"),
        cand_bound.alias("cand_pairs_bound"),
        F.round(
            cand_bound / F.greatest(n_docs * (n_docs - 1) / 2, F.lit(1.0)), 6
        ).alias("cand_ratio"),
    )


SIMHASH_CHUNK_STATS_SQL = f"""
WITH {_simhash_ctes()}, chunks AS (
  SELECT doc_id, ((simhash >> (16 * i)) & 65535) + i * 65536 AS chunk_key
  FROM sig, unnest([0, 1, 2, 3]) AS t(i)
), bc AS (
  SELECT chunk_key, count(*) AS bucket_n FROM chunks GROUP BY chunk_key
)
SELECT count(*) AS n_buckets,
       max(bucket_n) AS max_bucket,
       sum(CASE WHEN bucket_n > {BUCKET_CAP} THEN 1 ELSE 0 END)::BIGINT
         AS buckets_dropped,
       sum(CASE WHEN bucket_n > {BUCKET_CAP} THEN bucket_n ELSE 0 END)::BIGINT
         AS docs_in_dropped,
       sum(CASE WHEN bucket_n <= {BUCKET_CAP}
                THEN bucket_n * (bucket_n - 1) / 2 ELSE 0 END)::BIGINT
         AS cand_pairs_bound,
       round(sum(CASE WHEN bucket_n <= {BUCKET_CAP}
                      THEN bucket_n * (bucket_n - 1) / 2 ELSE 0 END)
             / greatest((sum(bucket_n) / 4) * (sum(bucket_n) / 4 - 1) / 2,
                        1.0), 6) AS cand_ratio
FROM bc
"""


def shingle_sets_df(docs_in: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, sh array<string>, n_sh): the
    DISTINCT 3-shingle set per document, one map-side Arrow pass.
    Same rationale as :func:`minhash_sigs_df`: the declarative form
    (split/transform/slice/concat_ws/array_distinct HOFs) is
    interpreted per element and dominated the verify stage at the sf1
    rehearsal (119 s at 50k docs, ~75% in the set build).  Values are
    identical to ``list_distinct({shingles})`` in the oracle CTEs;
    set ORDER is unspecified on both sides (consumers use
    size/array_intersect only)."""

    def sets(toks, h):
        if len(toks) < 3:
            return ()
        sh = list(shingle_set(toks))
        return [sh], [len(sh)]

    return doc_stage(docs_in, sets, "sh array<string>, n_sh int")


def dedup_minhash_verified(
    spark, sf_dir, threshold: float = 0.5, bucket_cap: int = BUCKET_CAP
):
    """The complete text near-dup hierarchy in one operator: MinHash-
    LSH candidate pairs (banded, bucket-capped, linear) -> EXACT
    n-gram Jaccard verification on candidates only -- the production
    twin of :func:`dedup_ngram_jaccard`, whose all-pairs shingle
    self-join is the fenced correctness baseline.  The verify join is
    candidate-pair-sized (bounded by the bucket cap), with each side's
    distinct shingle set riding along once (Arrow-built, see
    :func:`shingle_sets_df`); the intersection is a columnar
    array_intersect, no shingle explosion.

    r9 scale shape: the pairs table is materialized once (it feeds
    the verify join AND the candidate-id set), and the shingle sets
    are built ONLY for documents that appear in some candidate pair —
    a semi-join prunes the corpus before the Arrow set-build, so the
    expensive distinct-shingle pass is candidate-sized, not
    corpus-sized (guide §3.2: reduce the big side before the join;
    non-candidates could never survive the inner verify joins).  The
    candidate-sized sets frame is materialized once for its two
    aliases (each alias of a self-join re-runs its plan).  Previously this
    operator ran the corpus through Python FOUR times (2 sig + 2
    set-build passes); now twice (1 sig + 1 pruned set-build)."""
    from .scanspread import barrier_pays

    n_docs = read_table(spark, sf_dir, "documents").count()  # metadata count
    if barrier_pays(n_docs):
        pairs = _minhash_pairs(spark, sf_dir, bucket_cap).localCheckpoint()
        cand_ids = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .union(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        cand_docs = read_table(spark, sf_dir, "documents", spread=True).join(
            cand_ids, "doc_id", "left_semi"
        )
        sets = shingle_sets_df(cand_docs).localCheckpoint()
    else:
        # below the crossover the three barrier jobs cost more than
        # the corpus passes they save (measured): keep the direct
        # lazy shape
        pairs = _minhash_pairs(spark, sf_dir, bucket_cap)
        sets = shingle_sets_df(read_table(spark, sf_dir, "documents"))
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = F.round(
        inter / (F.col("n_a") + F.col("n_b") - inter), 4
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def _minhash_verified_sql(
    threshold: float = 0.5, n_rows: int | None = None
) -> str:
    return f"""
WITH {_minhash_pairs_ctes(n_rows)}, sets AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS sh
  FROM documents WHERE len({_TOKENS_DUCK}) >= 3
), sized AS (
  SELECT doc_id, sh, len(sh) AS n_sh FROM sets WHERE len(sh) > 0
), verified AS (
  SELECT p.doc_a, p.doc_b,
         round(len(list_intersect(a.sh, b.sh))
               / (a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh))), 4)
           AS jaccard
  FROM lsh_pairs p
  JOIN sized a ON a.doc_id = p.doc_a
  JOIN sized b ON b.doc_id = p.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified
WHERE jaccard >= {threshold} ORDER BY doc_a, doc_b
"""


DEDUP_MINHASH_VERIFIED_SQL = _minhash_verified_sql()


# ------------------------------------------------------------------ #
# incremental dedup: a new batch against an existing corpus            #
# ------------------------------------------------------------------ #

# deterministic batch split for the driver corpora: doc_id % 5 == 0 is
# the "incoming crawl" (20%), the rest is the already-ingested corpus
INCR_SPLIT_MOD = 5


def dedup_incremental(spark, sf_dir, bucket_cap: int = BUCKET_CAP):
    """Dedup a NEW batch against an EXISTING corpus -- the production
    shape of every recurring crawl ingest: the training set is already
    deduplicated, so each incoming document only needs (a) an exact
    match lookup against existing content hashes and (b) an asymmetric
    banded-LSH probe against the existing corpus's band table.  Intra-
    batch duplicates are deliberately NOT resolved here (that is the
    standard dedup ops' job on the kept batch).

    Output, one row per incoming doc: ``exact_dup_of`` / ``near_dup_of``
    = the minimum existing doc_id matched (-1 if none), ``keep`` =
    both -1 (:func:`_probe`).

    Scale shape: both probes are joins keyed on content hash / band
    key -- linear in batch + corpus size, never all-pairs.  The skew
    cap applies to the EXISTING side's bucket occupancy (a flooded
    corpus bucket means the incoming doc matches boilerplate that
    exact-dedup already collapsed); at 100 TB the existing band table
    is the thing you materialize bucketed once per corpus version and
    probe per crawl.  Banding resolves through
    :func:`minhash_banding` on the full table count, same as the
    symmetric ops; the oracle derives it from the same function."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    incoming = F.col("doc_id") % INCR_SPLIT_MOD == 0
    existing = docs.filter(~incoming)
    exist_h = (
        existing.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("exact_dup_of"))
    )
    # band each SIDE separately (filter before the signature stage):
    # a single full-table bands frame consumed by both branches would
    # run the Arrow sig pass over every doc twice -- the filters do
    # not push through mapInPandas
    banding = minhash_banding(docs.count())
    ex_capped = (
        minhash_bands_df(existing, banding)
        .withColumn("bn", F.count("*").over(Window.partitionBy("band_key")))
        .filter(F.col("bn") <= bucket_cap)
        .select(F.col("doc_id").alias("ex_id"), "band_key")
    )
    return _probe(
        docs.filter(incoming), exist_h, ex_capped, banding
    ).orderBy("doc_id")


def _probe(
    batch: DataFrame,
    exist_h: DataFrame,
    ex_bands: DataFrame,
    banding: "tuple[int, int]",
) -> DataFrame:
    """The one probe join (:func:`dedup_incremental`,
    :func:`probe_dedup_index`): ``batch`` (doc_id, text) against the
    existing (h, exact_dup_of) hashes and capped (ex_id, band_key)
    bands -> (doc_id, exact_dup_of, near_dup_of, keep).

    -1 means "no match": a nullable BIGINT round-trips through the
    driver's pandas compare as float64 NaN on the DuckDB side (the r2
    ::BIGINT lesson).  It is typed to the batch's doc_id dtype, since
    pipeline corpora use STRING ids and driver corpora BIGINT."""
    exact = (
        batch.select("doc_id", F.md5("text").alias("h"))
        .join(exist_h, "h", "left")
        .select("doc_id", "exact_dup_of")
    )
    near = (
        minhash_bands_df(batch.select("doc_id", "text"), banding)
        .join(ex_bands, "band_key")
        .groupBy("doc_id")
        .agg(F.min("ex_id").alias("near_dup_of"))
    )
    sentinel = F.lit(-1).cast(batch.schema["doc_id"].dataType)
    return exact.join(near, "doc_id", "left").select(
        "doc_id",
        F.coalesce("exact_dup_of", sentinel).alias("exact_dup_of"),
        F.coalesce("near_dup_of", sentinel).alias("near_dup_of"),
        (
            F.col("exact_dup_of").isNull() & F.col("near_dup_of").isNull()
        ).alias("keep"),
    )


def _incremental_sql(
    n_rows: int | None = None, bucket_cap: int = BUCKET_CAP
) -> str:
    # bucket_cap is threaded like n_rows (ADVICE r6): any test that
    # runs dedup_incremental with a non-default cap must regenerate
    # its oracle with the SAME cap or parity silently breaks
    return f"""
WITH {_minhash_pairs_ctes(n_rows)},
ex_side AS (
  SELECT doc_id, band_key FROM stacked WHERE doc_id % {INCR_SPLIT_MOD} <> 0
), ex_capped AS (
  SELECT doc_id, band_key FROM (
    SELECT doc_id, band_key,
           count(*) OVER (PARTITION BY band_key) AS bn
    FROM ex_side)
  WHERE bn <= {bucket_cap}
), inc_side AS (
  SELECT doc_id, band_key FROM stacked WHERE doc_id % {INCR_SPLIT_MOD} = 0
), near AS (
  SELECT i.doc_id, min(e.doc_id) AS near_dup_of
  FROM inc_side i JOIN ex_capped e ON e.band_key = i.band_key
  GROUP BY i.doc_id
), hashes AS (
  SELECT doc_id, md5(text) AS h FROM documents
), exist_h AS (
  SELECT h, min(doc_id) AS exact_dup_of FROM hashes
  WHERE doc_id % {INCR_SPLIT_MOD} <> 0 GROUP BY h
)
SELECT i.doc_id,
       COALESCE(eh.exact_dup_of, -1) AS exact_dup_of,
       COALESCE(n.near_dup_of, -1) AS near_dup_of,
       (eh.exact_dup_of IS NULL AND n.near_dup_of IS NULL) AS keep
FROM hashes i
LEFT JOIN exist_h eh ON eh.h = i.h
LEFT JOIN near n ON n.doc_id = i.doc_id
WHERE i.doc_id % {INCR_SPLIT_MOD} = 0
ORDER BY i.doc_id
"""


DEDUP_INCREMENTAL_SQL = _incremental_sql()


# ------------------------------------------------------------------ #
# materialized incremental-dedup index: the production form of the     #
# probe above.  Build ONCE per corpus version (content-hash + capped   #
# band tables, bucketed on their probe join keys), then dedup each     #
# incoming crawl batch against it with two bucketed joins.             #
# ------------------------------------------------------------------ #

DEDUP_INDEX_META = "index_meta.json"

# index sub-dir -> (catalog letter, bucket column, DDL; {dt} = doc_id type)
_INDEX_TABLES = {
    "hashes": ("h", "h", "`h` string, `exact_dup_of` {dt}"),
    "band_counts": ("c", "band_key", "`band_key` string, `bn` bigint"),
    "bands": ("b", "band_key", "`ex_id` {dt}, `band_key` string"),
    "dup_grams": ("g", "g", "`g` bigint"),
}


def _index_tag(index_dir: str) -> str:
    import hashlib

    return hashlib.md5(os.path.abspath(index_dir).encode()).hexdigest()[:8]


def _index_table_name(index_dir: str, sub: str) -> str:
    return f"bpc_dedup_idx_{_INDEX_TABLES[sub][0]}_{_index_tag(index_dir)}"


def _index_table(
    spark: SparkSession, index_dir: str, meta: dict, sub: str
) -> DataFrame:
    """Register ``<index_dir>/<sub>`` bucketed under its catalog name
    with its declared DDL: a legitimately EMPTY table (every band
    bucket capped, no surviving dup gram) has no file to infer from."""
    from ..sources import register_bucketed

    _, key, ddl = _INDEX_TABLES[sub]
    return register_bucketed(
        spark, _index_table_name(index_dir, sub),
        os.path.join(index_dir, sub), key, n_buckets=meta["n_buckets"],
        schema=ddl.format(dt=meta["doc_id_type"]),
    )


def read_index_meta(index_dir: str) -> dict:
    """``<index_dir>/index_meta.json``, refusing an index that cannot
    be probed or rolled as recorded: one built before ``doc_id_type``
    (and ``band_counts``) existed, or one that records
    ``dup_span_scrubbed`` but has no ``dup_grams`` table."""
    with open(os.path.join(index_dir, DEDUP_INDEX_META)) as f:
        meta = json.load(f)
    if "doc_id_type" not in meta:
        raise ValueError(
            f"{index_dir} has no doc_id_type in its meta (built before "
            "update support) -- rebuild it once with build_dedup_index"
        )
    if meta.get("dup_span_scrubbed") and not os.path.isdir(
        os.path.join(index_dir, "dup_grams")
    ):
        raise ValueError(
            f"index at {index_dir} records dup_span_scrubbed but has no "
            "dup_grams table -- rebuild it once with "
            "build_dedup_index(..., dup_grams=...)"
        )
    return meta


def _write_index(
    docs: DataFrame,
    out_dir: str,
    policy: dict,
    dup_grams: "DataFrame | None" = None,
    prior_dir: "str | None" = None,
) -> dict:
    """The one index writer; a fresh build is a roll from no prior.
    Each table is the batch's rows merged with ``prior_dir``'s table
    when there is one, so a roll equals a fresh build over the union
    corpus at the frozen banding (test-asserted).  Signatures (the
    expensive text pass) are computed for ``docs`` only, so a roll
    costs O(batch text + index size), never O(corpus text):

    - hashes: union + groupBy min -- the global min doc_id per hash.
    - band_counts: PRE-cap per-bucket counts, summed over batch and
      prior.  The cap applies to these MERGED counts: a bucket that
      crosses it only after the merge loses its PRIOR rows too, and a
      capped band table alone has lost both the dropped rows and
      their counts.
    - bands: (ex_id, band_key) rows whose merged bucket fits the cap.
    - dup_grams: the batch's list UNION the prior's -- a monotone
      per-version boilerplate list.

    ``policy`` is the prior's meta when rolling, else the build
    arguments (``banding`` None = :func:`minhash_banding` on the
    corpus count).  A roll's meta adds ``banding_stale``."""
    from functools import reduce

    from ..sources import write_bucketed

    spark = docs.sparkSession
    n_docs = policy.get("n_docs", 0) + docs.count()
    banding = tuple(policy["banding"] or minhash_banding(n_docs))
    n_buckets = policy["n_buckets"]

    def write(sub: str, batch: "DataFrame | None", merge) -> DataFrame:
        parts = [] if batch is None else [batch]
        if prior_dir is not None:
            parts.append(_index_table(spark, prior_dir, policy, sub))
        name = _index_table_name(out_dir, sub)
        write_bucketed(
            merge(reduce(DataFrame.unionByName, parts)), name,
            os.path.join(out_dir, sub), _INDEX_TABLES[sub][1],
            n_buckets=n_buckets,
        )
        return spark.table(name)

    write(
        "hashes",
        docs.select(
            F.md5("text").alias("h"), F.col("doc_id").alias("exact_dup_of")
        ),
        lambda df: df.groupBy("h").agg(
            F.min("exact_dup_of").alias("exact_dup_of")
        ),
    )
    # persisted: the signature pass feeds both counts and bands
    banded = minhash_bands_df(docs.select("doc_id", "text"), banding)
    banded.persist()
    ok = write(
        "band_counts",
        banded.select("band_key", F.lit(1).cast("bigint").alias("bn")),
        lambda df: df.groupBy("band_key").agg(
            F.sum("bn").cast("bigint").alias("bn")
        ),
    ).filter(F.col("bn") <= policy["bucket_cap"])
    write(
        "bands",
        banded.select(F.col("doc_id").alias("ex_id"), "band_key"),
        lambda df: df.join(ok.select("band_key"), "band_key", "left_semi"),
    )
    banded.unpersist()
    # a roll carries the list forward only from a dup_span_scrubbed
    # prior (update_dedup_index refuses batch grams for any other)
    if dup_grams is not None or (
        prior_dir is not None and policy.get("dup_span_scrubbed")
    ):
        write(
            "dup_grams",
            None if dup_grams is None else dup_grams.select("g"),
            DataFrame.distinct,
        )
    meta = {
        "banding": list(banding),
        "bucket_cap": policy["bucket_cap"],
        "n_buckets": n_buckets,
        "n_docs": n_docs,
        # frozen so consumers can register the (possibly empty) tables
        # with an explicit schema instead of file inference
        "doc_id_type": docs.schema["doc_id"].dataType.simpleString(),
    }
    if prior_dir is not None:
        meta["banding_stale"] = minhash_banding(n_docs) != banding
    meta["scrubbed"] = bool(policy.get("scrubbed", False))
    meta["dup_span_scrubbed"] = bool(policy.get("dup_span_scrubbed", False))
    with open(os.path.join(out_dir, DEDUP_INDEX_META), "w") as f:
        json.dump(meta, f)
    return meta


def build_dedup_index(
    docs: DataFrame,
    index_dir: str,
    banding: "tuple[int, int] | None" = None,
    bucket_cap: int = BUCKET_CAP,
    n_buckets: int = 8,
    scrubbed: bool = False,
    dup_span_scrubbed: bool = False,
    dup_grams: "DataFrame | None" = None,
) -> dict:
    """Materialize the dedup index for an EXISTING (already
    deduplicated) corpus -- built once per corpus version, probed per
    crawl batch; a build is :func:`_write_index` with no prior:

    - ``hashes``: (h = md5(text), exact_dup_of = min doc_id),
      bucketed on ``h``.
    - ``bands``: (ex_id, band_key) minhash bands with the skew cap
      ALREADY applied (a flooded corpus bucket is boilerplate the
      exact pass collapsed, so every probe skips it for free), and
      ``band_counts``: the pre-cap counts a roll re-caps on; both
      bucketed on ``band_key``.
    - ``index_meta.json``: the banding / cap / bucket layout the probe
      must reproduce -- signatures only match if the batch is banded
      with the SAME (b, r), so the policy is frozen in the index.

    ``banding`` defaults to :func:`minhash_banding` on the corpus
    count.  The bucketed layout makes every probe join shuffle ONLY
    the incoming batch (plan-asserted in tests/test_incremental_index
    .py::test_band_probe_plan_is_asymmetric).  At 100 TB the index is
    a fraction of corpus size (one 16-byte hash + b band keys per doc).

    ``scrubbed=True`` records that ``docs.text`` is PII-SCRUBBED
    (``textstats.pii_scrub_text``): :func:`probe_dedup_index` then
    scrubs the probe side before hashing/banding, so a re-fetched
    PII-bearing doc still exact-matches its corpus twin.

    ``dup_span_scrubbed=True`` records that ``docs.text`` had cross-
    doc duplicated spans SPLICED OUT (``--scrub-dup-spans``).  That
    transform is corpus-dependent, so the corpus's boilerplate list
    ``dup_grams`` (``textstats.dup_grams_df`` over the PRE-scrub
    corpus) is REQUIRED with the flag and lands as a fourth bucketed
    table: the probe splices raw text against it (before any PII
    redaction, the pipeline's stage order) to reproduce the indexed
    bytes.  :func:`update_dedup_index` refuses mismatched
    representations and rolls the list forward by union -- a monotone
    per-version list: grams first duplicated only ACROSS versions
    enter it at the next version that sees them duplicated
    internally, never retroactively."""
    if dup_span_scrubbed and dup_grams is None:
        raise ValueError(
            "dup_span_scrubbed=True requires dup_grams (the "
            "textstats.dup_grams_df frame over the PRE-scrub corpus):"
            " without the boilerplate list a probe can never replay "
            "the splice on raw re-fetched text"
        )
    policy = {
        "banding": banding,
        "bucket_cap": bucket_cap,
        "n_buckets": n_buckets,
        "scrubbed": scrubbed,
        "dup_span_scrubbed": dup_span_scrubbed,
    }
    return _write_index(docs, index_dir, policy, dup_grams)


def update_dedup_index(
    new_docs: DataFrame,
    prior_dir: str,
    out_dir: str,
    scrubbed: "bool | None" = None,
    dup_span_scrubbed: "bool | None" = None,
    new_dup_grams: "DataFrame | None" = None,
) -> dict:
    """Roll the corpus-version index forward: prior index + the batch
    of NEWLY KEPT docs -> the next version's index, WITHOUT re-signing
    the existing corpus -- exactly a fresh :func:`build_dedup_index`
    over the union corpus at the FROZEN banding (both are
    :func:`_write_index`; equivalence is test-asserted).  Indexes
    built before band_counts existed must be rebuilt once.

    Banding stays frozen at the prior version's (b, r) -- probe
    signatures only match the index they were banded for.  The
    returned meta carries ``banding_stale``: when corpus growth moves
    :func:`minhash_banding` past the frozen policy, schedule a full
    rebuild at the next version roll (an epoch event, not a per-batch
    one; rehearsed at the 10k boundary in BASELINE.md r8).

    ``scrubbed`` / ``dup_span_scrubbed`` assert the representation of
    ``new_docs.text`` against the prior index's frozen flags: pass the
    current run's scrub settings and a mismatch raises instead of
    silently merging raw hashes into a scrubbed index (or vice versa).
    ``None`` skips the check (caller guarantees consistency)."""
    prior = read_index_meta(prior_dir)
    if not os.path.isdir(os.path.join(prior_dir, "band_counts")):
        raise ValueError(
            f"{prior_dir} has no band_counts table (built before "
            "update support) -- rebuild it once with build_dedup_index"
        )
    for flag, given in (
        ("scrubbed", scrubbed), ("dup_span_scrubbed", dup_span_scrubbed)
    ):
        have = prior.get(flag, False)
        if given is not None and bool(given) != have:
            raise ValueError(
                f"text representation mismatch: index at {prior_dir} was "
                f"built {flag}={have} but this run supplies "
                f"{flag}={bool(given)} docs -- mixing representations "
                "silently breaks exact-hash dedup"
            )
    if new_dup_grams is not None and not prior.get("dup_span_scrubbed"):
        raise ValueError(
            f"index at {prior_dir} was not built dup_span_scrubbed; "
            "passing new_dup_grams would silently change the text "
            "representation mid-roll"
        )
    if _index_tag(prior_dir) == _index_tag(out_dir):
        # in-place update would overwrite tables while scanning them
        raise ValueError("out_dir must differ from prior_dir")
    batch_dt = new_docs.schema["doc_id"].dataType.simpleString()
    if batch_dt != prior["doc_id_type"]:
        raise ValueError(
            f"batch doc_id type {batch_dt} != index "
            f"{prior['doc_id_type']}"
        )
    return _write_index(new_docs, out_dir, prior, new_dup_grams, prior_dir)


def probe_dedup_index(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> DataFrame:
    """Dedup an incoming batch against a :func:`build_dedup_index`
    index: the ``dedup_incremental`` driver query's :func:`_probe`
    rows (``exact_dup_of`` / ``near_dup_of``, -1 if none; ``keep``),
    linear in batch + index size.  Intra-batch duplicates are NOT
    resolved here (the standard ops' job on the kept batch).

    Both joins scan BUCKETED index tables, so only the incoming side
    shuffles (plan-asserted in tests/test_incremental_index.py
    ::test_band_probe_plan_is_asymmetric).

    ``scrubbed: true`` in the meta passes the probe text through the
    PII redaction chain before hashing/banding (the index holds
    hashes of the SCRUBBED text).  ``dup_span_scrubbed: true`` first
    splices it against the index's frozen ``dup_grams`` list (the
    pipeline scrubs dup spans before PII, and the list was computed
    on pre-PII text -- replay must match that order)."""
    meta = read_index_meta(index_dir)
    if meta.get("dup_span_scrubbed"):
        from .textstats import dup_span_scrub_df

        new_docs = dup_span_scrub_df(
            new_docs.select("doc_id", "text"),
            normal_form=False,
            grams=_index_table(spark, index_dir, meta, "dup_grams"),
        ).select("doc_id", F.col("scrubbed_text").alias("text"))
    if meta.get("scrubbed"):
        from .textstats import pii_scrub_text

        new_docs = new_docs.withColumn(
            "text", pii_scrub_text(F.col("text"))
        )
    return _probe(
        new_docs,
        _index_table(spark, index_dir, meta, "hashes"),
        _index_table(spark, index_dir, meta, "bands"),
        tuple(meta["banding"]),
    )


# ------------------------------------------------------------------ #
# duplicate-cluster resolution: candidate pairs -> connected           #
# components -> canonical keep-set                                     #
# ------------------------------------------------------------------ #


def _ckpt(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Per-round lineage cut for the iterative component loops.

    ``checkpoint_dir=None`` (default) -> ``localCheckpoint``: blocks
    live on executors -- fast, fine on local[*], but on a real cluster
    one executor loss mid-iteration makes the job unrecoverable (the
    truncated lineage cannot recompute the lost blocks).  Passing a
    reliable (HDFS-compatible, cluster-visible) directory switches to
    ``checkpoint()``: blocks are written to storage that survives
    executor loss -- the 100-TB setting, threaded through
    ``jobs/run_pipeline.py --checkpoint-dir``."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    # setCheckpointDir appends a random UUID subdirectory, so comparing
    # getCheckpointDir() to the raw dir never matches -- memoize the
    # last dir we passed instead, or every _ckpt call would mint a
    # fresh UUID dir and checkpoint files would pile up per iteration
    if getattr(sc, "_bps_ckpt_dir", None) != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
        sc._bps_ckpt_dir = checkpoint_dir
    return df.checkpoint(eager=True)


def _star_components(
    pairs: DataFrame,
    max_rounds: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): round count is O(log^2 n) REGARDLESS of component
    diameter, unlike min-label propagation whose rounds equal the
    diameter.  This is the long-chain fallback behind
    :func:`dedup_clusters`.

    ``pairs``: undirected candidate edges (doc_a < doc_b).  Returns
    (doc_id, cluster_id) for every node touched by an edge, cluster_id
    = component minimum.

    Per round: large-star attaches every strictly-larger neighbor of a
    node to that node's least neighbor-or-self; small-star (on the
    high->low oriented result) attaches every smaller neighbor and the
    node itself to its least neighbor.  Both are one groupBy + one
    join keyed on the node -- edge-sized shuffles.  At the fixed point
    the edge set is a union of stars centered at component minima."""
    e = (
        pairs.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )  # canonical orientation src > dst, positional (src, dst)
        .distinct()
    )
    e = _ckpt(e, checkpoint_dir)
    for _ in range(max_rounds):
        # large-star over the full neighborhood (both orientations);
        # unionByName -- a positional union would silently undo the swap
        nbrs = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mn = nbrs.groupBy("src").agg(F.min("dst").alias("mn"))
        mn = mn.select("src", F.least("src", "mn").alias("m"))
        ls = (
            nbrs.join(mn, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on the (src > dst)-oriented large-star output
        mn2 = ls.groupBy("src").agg(F.min("dst").alias("mn"))
        ss = (
            ls.join(mn2, "src")
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .unionByName(mn2.select("src", F.col("mn").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .distinct()
        )
        ss = _ckpt(ss, checkpoint_dir)
        # both sides are distinct canonical-oriented sets, so equality
        # is |e| == |ss| plus one one-sided difference being empty --
        # one exceptAll job per round, not two
        changed = (
            1
            if ss.count() != e.count()
            else ss.exceptAll(e).count()
        )
        e = ss
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"_star_components: edge set still moving after {max_rounds} "
            "alternating rounds -- should be impossible for any graph "
            "(O(log^2 n) bound); investigate the edge input"
        )
    labels = e.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
    )
    mins = (
        e.select(F.col("dst").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return labels.unionByName(mins)


def resolve_components(
    pairs: DataFrame,
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected-component labels (doc_id, cluster_id) for every node
    touched by a candidate pair, cluster_id = component min.

    Algorithm: iterative min-label propagation over ONLY the nodes
    that appear in candidate pairs -- singletons can never change label,
    so the iterated table is edge-sized, not corpus-sized (at 10^12
    docs with a ~1% near-dup rate that is a 100x smaller shuffle per
    round).  Rounds = component diameter; duplicate clusters are
    shallow (near-clique), so this converges in 2-3 rounds.

    Round shape: the state is one row per node, (doc_id, cluster_id,
    nbrs), built from the edges by one groupBy that also applies the
    first hop (cluster_id = least(doc_id, array_min(nbrs))).  Each
    further round is ONE exchange: every node sends its label to each
    neighbour plus a self-message carrying ``nbrs`` and its old label,
    and one groupBy on the receiver takes the minimum.  Convergence:
    the new label is least(old, received), so the round moved nodes
    exactly when sum(new < old) > 0 -- counted by ``observe`` inside
    the round's own checkpoint action, not by a second job (any label
    type).  Each round's checkpoint truncates the growing plan.  If a
    long-chain graph exhausts ``max_iters`` hops (diameter >
    max_iters), the run FALLS BACK to :func:`_star_components` --
    alternating large-star/small-star, O(log^2 n) rounds independent
    of diameter -- instead of raising, so pathological chains cost
    extra rounds, never a wrong answer."""
    from pyspark.sql import Observation

    # both orientations from ONE pass over pairs (a union of two
    # selects would run the whole pairs plan once per branch)
    both = F.array(
        F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
    )
    state = _ckpt(
        pairs.select(F.explode(both).alias("e"))
        .groupBy(F.col("e.src").alias("doc_id"))
        .agg(F.collect_set("e.dst").alias("nbrs"))
        .select(
            "doc_id",
            F.least("doc_id", F.array_min("nbrs")).alias("cluster_id"),
            "nbrs",
        ),
        checkpoint_dir,
    )
    # a node's label to each neighbour, plus a self-message carrying
    # its neighbour list and old label
    to_nbrs = F.transform(
        "nbrs",
        lambda n: F.struct(
            n.alias("doc_id"),
            F.col("cluster_id").alias("lbl"),
            F.lit(None).alias("nbrs"),
            F.lit(None).alias("old"),
        ),
    )
    to_self = F.struct(
        "doc_id",
        F.col("cluster_id").alias("lbl"),
        "nbrs",
        F.col("cluster_id").alias("old"),
    )
    messages = F.explode(F.concat(to_nbrs, F.array(to_self))).alias("m")
    # the first hop is already in the state, so max_iters - 1 rounds
    # remain -- the same hop budget as one join round per hop
    for _ in range(max_iters - 1):
        moved = Observation()
        state = _ckpt(
            state.select(messages)
            .groupBy("m.doc_id")
            .agg(
                F.min("m.lbl").alias("cluster_id"),
                F.max("m.nbrs").alias("nbrs"),
                F.max("m.old").alias("old"),
            )
            .observe(
                moved,
                F.sum(
                    (F.col("cluster_id") < F.col("old")).cast("long")
                ).alias("n"),
            )
            .select("doc_id", "cluster_id", "nbrs"),
            checkpoint_dir,
        )
        if not moved.get["n"]:
            break
    else:
        # diameter > max_iters: switch to the diameter-independent
        # star algorithm (silent wrong labels would diverge from the
        # exact recursive-CTE oracle undetectably; a slower correct
        # path is the right degradation)
        return _star_components(pairs, checkpoint_dir=checkpoint_dir)
    return state.select("doc_id", "cluster_id")


def dedup_clusters(spark, sf_dir, max_iters: int = 20):
    """(doc_id, cluster_id, keep) for every document: connected
    components (:func:`resolve_components`) over the MinHash-LSH
    candidate pairs, cluster_id = the lexicographic min doc_id of the
    component, keep = is-canonical.  Singletons keep themselves (the
    full corpus joins back once at the end with cluster_id = doc_id
    for untouched docs)."""
    # unsorted pairs: no global sort paid
    pairs = _minhash_pairs(spark, sf_dir)
    labels = resolve_components(pairs, max_iters)
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _clusters_sql(n_rows: int | None = None) -> str:
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes(n_rows)},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
),
reach (doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id
)
SELECT doc_id, min(lbl) AS cluster_id, (doc_id = min(lbl)) AS keep
FROM reach GROUP BY doc_id ORDER BY doc_id
"""


DEDUP_CLUSTERS_SQL = _clusters_sql()


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_clusters": dedup_clusters,
    "minhash_band_stats": minhash_band_stats,
    "simhash_chunk_stats": simhash_chunk_stats,
    "dedup_minhash_verified": dedup_minhash_verified,
    "dedup_incremental": dedup_incremental,
}

ORACLES = {
    "minhash_band_stats": MINHASH_BAND_STATS_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_simhash_pairs": DEDUP_SIMHASH_PAIRS_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "simhash_chunk_stats": SIMHASH_CHUNK_STATS_SQL,
    "dedup_minhash_verified": DEDUP_MINHASH_VERIFIED_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
}
