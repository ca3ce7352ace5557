"""Embedding near-dup LSH pairs: skew-guard (vector flood), recall vs
the brute-force baseline, and oracle parity on an adversarial corpus --
the behaviors the driver's organic-corpus comparison cannot cover."""

import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from boilerpipe_coffee_spark.operators.similarity import (
    DIM,
    EMB_BUCKET_CAP,
    _emb_lsh_pairs_sql,
    dedup_embedding_cosine,
    dedup_embedding_lsh_pairs,
    emb_banding,
)

N_FLOOD_ROWS = 602  # 600 flood copies + the near-dup pair

SF_001 = "/root/testdata/sf0.001"
SF_01 = "/root/testdata/sf0.01"


def _vec(seed: int):
    """Deterministic unit-ish vector from a tiny LCG (no numpy dep)."""
    x = seed * 2654435761 % (2**32)
    out = []
    for _ in range(DIM):
        x = (1103515245 * x + 12345) % (2**31)
        out.append((x / (2**31)) * 2 - 1)
    return out


def _write_embeddings(tmp_path, rows):
    """rows: list of (vec_id:int, vector:list[float])."""
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(rows), pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


@pytest.fixture(scope="module")
def flood_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("vecflood")
    flood = _vec(7)
    rows = [(i, flood) for i in range(600)]  # 600 > EMB_BUCKET_CAP
    # a genuine near-dup pair OUTSIDE the flood: same base vector with
    # a small deterministic perturbation (cosine ~0.99)
    base = _vec(99)
    pert = [x + 0.05 * p for x, p in zip(base, _vec(123))]
    rows += [(9001, base), (9002, pert)]
    return _write_embeddings(tmp, rows)


def test_bucket_cap_bounds_identical_vector_flood(spark, flood_dir):
    """600 identical vectors would emit ~179,700 cosine-1.0 pairs per
    table without the cap; with it the flood contributes ZERO pairs
    (identical vectors are exact-dup territory) while the genuine
    near-dup pair still collides in at least one uncapped table."""
    assert 600 > EMB_BUCKET_CAP
    got = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_lsh_pairs(spark, flood_dir).collect()
    }
    assert got == {(9001, 9002)}, got


def test_flood_parity_with_oracle(spark, flood_dir):
    """The DuckDB oracle applies the SAME bucket cap, so both engines
    agree even when the cap is doing real work."""
    got = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in dedup_embedding_lsh_pairs(spark, flood_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{flood_dir}/embeddings.parquet')"
    )
    # the oracle must be generated for THIS corpus's row count (the
    # adaptive banding resolves to B=5 x T=14 at n=602, not the
    # driver corpus's B=4 x T=12)
    want = sorted(
        tuple(r)
        for r in con.sql(_emb_lsh_pairs_sql(n_rows=N_FLOOD_ROWS)).fetchall()
    )
    con.close()
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, cg), (_, _, cw) in zip(got, want):
        assert math.isclose(cg, cw, abs_tol=1e-4)


def test_recall_vs_brute_force_sf001(spark):
    """LSH-verified pairs are a SUBSET of the brute-force baseline
    (same exact-cosine filter) and recall is high.  Planes are
    md5-derived, so recall on a fixed corpus is deterministic:
    6/7 at sf0.001."""
    bf = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine(spark, SF_001).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_lsh_pairs(spark, SF_001).collect()
    }
    assert lsh <= bf
    assert len(bf) == 7
    assert len(lsh) >= 6  # deterministic 6/7 with T=12 x B=4 planes


def test_full_recall_sf01(spark):
    """At sf0.01 the T=12 x B=4 family recovers ALL 14 brute-force
    pairs -- the candidate set is bounded (capped buckets) yet misses
    nothing on the organic corpus."""
    bf = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine(spark, SF_01).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_lsh_pairs(spark, SF_01).collect()
    }
    assert lsh == bf
    assert len(bf) == 14


def test_flood_visible_in_bucket_stats(spark, flood_dir):
    """The monitoring companion must report the vector flood that the
    cap silently (by design) drops from the candidate join."""
    from boilerpipe_coffee_spark.operators.similarity import (
        emb_bucket_stats,
    )

    _, n_tables = emb_banding(N_FLOOD_ROWS)
    s = emb_bucket_stats(spark, flood_dir).collect()[0]
    assert s.max_bucket >= 600  # the flood bucket, in every table
    assert s.buckets_dropped >= n_tables
    assert s.vecs_in_dropped >= 600 * n_tables
    # the flood's quadratic mass sits in DROPPED buckets, so the
    # surviving-candidate bound the monitor reports stays tiny
    assert s.cand_pairs_bound < 1000
    assert s.cand_ratio < 0.01


def test_banding_policy_monotone_and_anchored():
    """The adaptive policy: anchored at the committed corpora (n=500
    -> the round-4 B=4 x T=12, so driver rows are bit-stable),
    monotone in N, clamped at B=16/T=32 so the plane count and probe
    cost stay bounded at any scale."""
    assert emb_banding(500) == (4, 12)
    assert emb_banding(2000) == (6, 16)
    prev_b = 0
    for n in (1, 100, 500, 2_000, 50_000, 10**6, 10**9, 10**12):
        b, t = emb_banding(n)
        assert 4 <= b <= 16 and 12 <= t <= 32
        assert b >= prev_b
        prev_b = b
    assert emb_banding(10**12) == (16, 32)


def test_adaptive_banding_oracle_parity_larger_corpus(spark, tmp_path):
    """A corpus big enough to leave the legacy banding (n=1200 ->
    B=6 x T=16): Spark and the regenerated oracle must stay
    hash-exact -- proves BOTH sides derive parameters from the same
    policy rather than only the n=500 instance being aligned."""
    rows = [(i, _vec(i)) for i in range(1200)]
    # plant one near-identical pair well above the threshold
    base = _vec(7001)
    rows += [(9001, base), (9002, [x + 0.03 * p for x, p in zip(base, _vec(7002))])]
    d = _write_embeddings(tmp_path, rows)
    assert emb_banding(1202) == (6, 16)

    got = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in dedup_embedding_lsh_pairs(spark, d).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.sql(_emb_lsh_pairs_sql(n_rows=1202)).fetchall()
    )
    con.close()
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, cg), (_, _, cw) in zip(got, want):
        assert math.isclose(cg, cw, abs_tol=1e-4)
    assert (9001, 9002) in {(a, b) for a, b, _ in got}


def test_verify_strategies_bit_identical(spark, monkeypatch):
    """The size-gated broadcast-gather verify (r6) and the general
    shuffle-join verify must be bit-for-bit interchangeable -- the
    committed corpora always take the gather path, so this pins the
    join path (the 100-TB fallback) against it explicitly."""
    from boilerpipe_coffee_spark.operators import similarity as S

    sf = "/root/testdata/sf0.01"
    gather = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in S.dedup_embedding_lsh_pairs(spark, sf).collect()
    )
    monkeypatch.setattr(S, "EMB_BCAST_VERIFY_MAX_BYTES", 0)
    join = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in S.dedup_embedding_lsh_pairs(spark, sf).collect()
    )
    assert gather == join
    assert len(gather) > 0


def test_gather_verify_rejects_an_id_missing_from_the_matrix(spark):
    """A candidate id that is not in the broadcast matrix must fail the
    verify, not take the cosine of whichever row searchsorted lands
    on."""
    from boilerpipe_coffee_spark.operators.similarity import _gather_verify_df

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (4, [1.0, 1.0])],
        "vec_id bigint, v array<double>",
    )

    def pairs(*rows):
        return spark.createDataFrame(list(rows), "vec_a bigint, vec_b bigint")

    got = _gather_verify_df(emb, pairs((0, 2), (2, 4))).collect()
    assert sorted((r.vec_a, r.vec_b, round(r.raw, 6)) for r in got) == [
        (0, 2, 0.0),
        (2, 4, round(1 / math.sqrt(2), 6)),
    ]
    for bad in [(0, 3), (1, 4), (2, 9)]:
        with pytest.raises(Exception, match="not in the verify matrix"):
            _gather_verify_df(emb, pairs(bad)).collect()
