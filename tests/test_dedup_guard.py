"""Skew-guard and cluster-resolution behavior that the DuckDB oracle
comparison cannot cover: adversarial flood corpora."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from boilerpipe_coffee_spark.operators.dedup import (
    dedup_clusters,
    dedup_minhash_lsh,
    minhash_band_stats,
)

FLOOD_TEXT = (
    "the quick brown fox jumps over the lazy dog and keeps on running "
    "through the quiet field while the morning sun climbs higher "
) * 3


def _write_documents(tmp_path, rows):
    """rows: list of (doc_id, text:str); int ids are written as int64,
    str ids as string."""
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows]),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["flood"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


@pytest.fixture(scope="module")
def flood_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("flood")
    # 900 copies: comfortably past the 64 cap, but the corpus stays
    # under MINHASH_LEGACY_N so banding resolves to the legacy 4x2
    # (this fixture tests the CAP; the adaptive-width policy has its
    # own non-legacy parity test below)
    rows = [(i, FLOOD_TEXT) for i in range(900)]
    # two NEAR duplicates (one word changed) outside the flood: their
    # band buckets have size 2, well under the cap, so the pair survives
    near_a = FLOOD_TEXT.replace("morning", "evening") + " unique tail one"
    near_b = FLOOD_TEXT.replace("morning", "evening") + " unique tail two"
    rows += [(5001, near_a), (5002, near_b)]
    return _write_documents(tmp, rows)


def test_band_cap_bounds_identical_doc_flood(spark, flood_dir):
    """1000 identical docs would emit ~499,500 pairs per band without
    the cap; with it the flood contributes ZERO candidate pairs (it is
    exact-dup territory) while genuine near-dups still pair up."""
    pairs = dedup_minhash_lsh(spark, flood_dir).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert all(a == 5001 and b == 5002 for a, b in got), got
    assert len(got) <= 1  # only the near-dup pair, if bands collide
    assert (5001, 5002) in got, "near-dup pair must survive the cap"


def test_band_stats_report_dropped_flood(spark, flood_dir):
    s = minhash_band_stats(spark, flood_dir).collect()[0]
    # the flood bucket may also attract the near-dups on some bands
    assert s.max_bucket >= 900
    assert s.buckets_dropped >= 4  # all 4 bands of the flood doc
    assert s.docs_in_dropped >= 3600


def test_band_cap_parity_with_oracle_on_flood(spark, flood_dir):
    """The DuckDB oracle applies the SAME bucket cap, so Spark and
    oracle agree even when the cap is doing real work (the driver
    corpus never exercises it)."""
    import duckdb

    from boilerpipe_coffee_spark.operators.dedup import DEDUP_MINHASH_SQL

    got = sorted(
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, flood_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{flood_dir}/documents.parquet')"
    )
    want = sorted((a, b) for a, b in con.sql(DEDUP_MINHASH_SQL).fetchall())
    con.close()
    assert got == want


def test_clusters_resolve_chain_and_singletons(spark, tmp_path):
    """Seeded duplicate chain A~B, B~C (transitive) plus singletons:
    connected components must give one cluster with min-id canonical."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon "
    ) * 4
    rows = [
        (1, base + "phi chi psi"),
        (2, base + "phi chi omega"),  # near-dup of 1
        (3, base + "phi rho omega"),  # near-dup of 2, farther from 1
        (10, "completely different short text about sailing boats " * 6),
        (11, "another unrelated document mentioning telescopes and stars " * 6),
    ]
    d = _write_documents(tmp_path, rows)
    labels = {r.doc_id: (r.cluster_id, r.keep) for r in dedup_clusters(spark, d).collect()}
    assert len(labels) == 5
    # the chain collapses to cluster 1; exactly one keeper
    chain = {doc for doc, (cl, _) in labels.items() if cl == 1}
    assert chain == {1, 2, 3}
    assert [doc for doc, (cl, k) in labels.items() if cl == 1 and k] == [1]
    # singletons keep themselves
    for doc in (10, 11):
        assert labels[doc] == (doc, True)


# ------------------------------------------------------------------ #
# SimHash chunk-bucket cap (round 5: 64-bit sigs, 4x16-bit chunks)    #
# ------------------------------------------------------------------ #


@pytest.fixture(scope="module")
def simhash_flood_dir(tmp_path_factory):
    """1000 identical docs (one simhash -> 4 flooded chunk buckets)
    plus two near-dups whose 64-bit signatures differ by ONE bit and
    share two chunk buckets the flood does not touch (tail words
    searched offline for that property)."""
    tmp = tmp_path_factory.mktemp("simflood")
    rows = [(i, FLOOD_TEXT) for i in range(1000)]
    near = FLOOD_TEXT.replace("morning", "evening") + " unique tail "
    rows += [(5001, near + "one"), (5002, near + "seven")]
    return _write_documents(tmp, rows)


def test_simhash_cap_bounds_identical_doc_flood(spark, simhash_flood_dir):
    """1000 identical docs share one signature, so each of its 4 chunk
    buckets holds 1000 rows -> ~2M candidate pairs per chunk without
    the cap.  With it the flood contributes ZERO pairs (exact-dup
    territory) while the genuine near-dup pair survives via its
    unflooded shared chunks."""
    from boilerpipe_coffee_spark.operators.dedup import dedup_simhash_pairs

    pairs = dedup_simhash_pairs(spark, simhash_flood_dir).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert set(got) == {(5001, 5002)}, got
    assert got[(5001, 5002)] == 1


def test_simhash_cap_parity_with_oracle_on_flood(spark, simhash_flood_dir):
    """DuckDB oracle applies the SAME chunk-bucket cap (shared
    BUCKET_CAP), so Spark and oracle agree while the cap does real
    work."""
    import duckdb

    from boilerpipe_coffee_spark.operators.dedup import (
        DEDUP_SIMHASH_PAIRS_SQL,
        dedup_simhash_pairs,
    )

    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup_simhash_pairs(spark, simhash_flood_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{simhash_flood_dir}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(DEDUP_SIMHASH_PAIRS_SQL).fetchall())
    con.close()
    assert got == want


def _reference_simhash(text):
    """Pure-Python 64-bit SimHash, signed: over the distinct token set,
    bit b of the md5 hex digits 1-8 votes on bit b, digits 9-16 on bit
    32 + b; a bit is set when its vote is positive."""
    import hashlib
    import re

    toks = {t for t in re.split("[^a-z0-9]+", text.lower()) if t}
    if not toks:
        return None
    votes = [0] * 64
    for t in toks:
        v = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
        word = (v >> 32) | ((v & 0xFFFFFFFF) << 32)
        for b in range(64):
            votes[b] += 1 if (word >> b) & 1 else -1
    val = sum(1 << b for b in range(64) if votes[b] > 0)
    return val - (1 << 64) if val >> 63 else val


def _hamming(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _reference_simhash_pairs(rows):
    """(doc_a, doc_b, hamming) for every two rows, doc_a < doc_b, that
    share a 16-bit chunk bucket of at most BUCKET_CAP rows and lie
    within Hamming distance 3."""
    from collections import defaultdict

    from boilerpipe_coffee_spark.operators.dedup import BUCKET_CAP

    buckets = defaultdict(list)
    for doc_id, text in rows:
        sig = _reference_simhash(text)
        if sig is None:
            continue
        for i in range(4):
            buckets[((sig >> 16 * i) & 0xFFFF) + i * 65536].append((doc_id, sig))
    return {
        (a, b, _hamming(sa, sb))
        for members in buckets.values()
        if len(members) <= BUCKET_CAP
        for a, sa in members
        for b, sb in members
        if a < b and _hamming(sa, sb) <= 3
    }


def _variant_at(base, distance):
    """``base`` plus two extra tokens, whose SimHash lies exactly
    ``distance`` bits from base's and still shares a whole 16-bit
    chunk with it, so only the Hamming filter can tell the pair."""
    sig = _reference_simhash(base)
    for k in range(5000):
        text = f"{base} extra{k} extra{k + 7}"
        other = _reference_simhash(text)
        shared = any(
            (sig >> 16 * i) & 0xFFFF == (other >> 16 * i) & 0xFFFF
            for i in range(4)
        )
        if _hamming(sig, other) == distance and shared:
            return text
    raise AssertionError(f"no distance-{distance} variant found")


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_simhash_pairs_match_brute_force(spark, tmp_path, id_type):
    """Exact (doc_a, doc_b, hamming) set equality with the pure-Python
    reference on a written corpus: a bucket of exactly ``BUCKET_CAP``
    copies pairs in full, ``BUCKET_CAP + 1`` copies pair not at all, a
    repeated doc_id row never pairs with itself, and a pair 4 bits
    apart is dropped although it shares a chunk."""
    import random

    from boilerpipe_coffee_spark.operators.dedup import (
        BUCKET_CAP,
        dedup_simhash_pairs,
    )

    rng = random.Random(5)
    vocab = ["v%03d" % i for i in range(400)]
    rows = []
    for i in range(20):  # families: base + variants 3 and 4 bits away
        base = " ".join(rng.sample(vocab, 30))
        rows.append((i, base))
        if i % 4 == 0:
            rows.append((100 + i, _variant_at(base, 3)))
            rows.append((200 + i, _variant_at(base, 4)))
    at_cap = " ".join(rng.sample(vocab, 25)) + " capped bucket"
    flood = " ".join(rng.sample(vocab, 25)) + " flood bucket"
    rows += [(1000 + k, at_cap) for k in range(BUCKET_CAP)]
    rows += [(2000 + k, flood) for k in range(BUCKET_CAP + 1)]
    rows += [rows[0], (3000, "")]  # repeated doc_id row; no tokens
    if id_type == "string":
        rows = [("doc-%05d" % i, t) for i, t in rows]
    want = _reference_simhash_pairs(rows)
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup_simhash_pairs(
            spark, _write_documents(tmp_path, rows)
        ).collect()
    }
    assert got == want
    ids = (lambda i: "doc-%05d" % i) if id_type == "string" else (lambda i: i)
    pairs = {(a, b) for a, b, _ in got}
    capped = {
        (ids(1000 + x), ids(1000 + y))
        for x in range(BUCKET_CAP)
        for y in range(x + 1, BUCKET_CAP)
    }
    assert capped <= pairs
    assert not any(ids(2000) <= a <= ids(2064) for pair in pairs for a in pair)
    assert all(a != b for a, b in pairs)
    for i in range(0, 20, 4):
        assert (ids(i), ids(100 + i), 3) in got
        assert (ids(i), ids(200 + i)) not in pairs


def test_minhash_verified_subset_of_brute_force(spark):
    """LSH-candidates -> exact-Jaccard verify must be a SUBSET of the
    all-pairs baseline at the same threshold (identical jaccard values
    on shared pairs), with deterministic recall on the fixed corpus."""
    from boilerpipe_coffee_spark.operators.dedup import (
        dedup_minhash_verified,
        dedup_ngram_jaccard,
    )

    sf = "/root/testdata/sf0.01"
    brute = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, sf).collect()
    }
    verified = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_minhash_verified(spark, sf).collect()
    }
    assert set(verified) <= set(brute)
    for pair, j in verified.items():
        assert j == brute[pair]
    # deterministic recall on the committed corpus (md5 minhash
    # coefficients are fixed): assert the measured value so silent
    # recall regressions fail loudly
    assert len(brute) > 0
    assert len(verified) / len(brute) >= 0.9, (len(verified), len(brute))


# ------------------------------------------------------------------ #
# Adaptive MinHash width (round 6)                                    #
# ------------------------------------------------------------------ #


def test_minhash_banding_policy_points():
    from boilerpipe_coffee_spark.operators.dedup import minhash_banding

    # legacy floor: every committed corpus stays at (4, 2)
    assert minhash_banding(1) == (4, 2)
    assert minhash_banding(500) == (4, 2)
    assert minhash_banding(1000) == (4, 2)
    # one extra row per 10x past the floor
    assert minhash_banding(1001) == (6, 3)
    assert minhash_banding(5000) == (6, 3)  # the sf0.1 corpus
    assert minhash_banding(10000) == (6, 3)
    assert minhash_banding(10001) == (8, 4)
    assert minhash_banding(50000) == (8, 4)  # the sf1 rehearsal corpus
    assert minhash_banding(10**12) == (8, 4)  # capped


def _nonlegacy_corpus():
    """1200-doc corpus (-> banding (6, 3), 18 signatures) with planted
    exact-duplicate and near-duplicate pairs; deterministic."""
    import random

    rng = random.Random(20250817)
    vocab = [
        "w%03d" % i for i in range(400)
    ]
    rows = []
    for i in range(1180):
        words = [rng.choice(vocab) for _ in range(40)]
        rows.append((i, " ".join(words)))
    # 10 exact duplicates (guaranteed band collisions at any width)
    for j in range(10):
        rows.append((2000 + j, rows[j][1]))
    # 10 near duplicates: two words swapped
    for j in range(10):
        words = rows[100 + j][1].split()
        words[5], words[20] = "zzalt", "zzother"
        rows.append((3000 + j, " ".join(words)))
    return rows


def test_minhash_nonlegacy_policy_point_parity(spark, tmp_path):
    """Hash-exact Spark-vs-DuckDB parity at a NON-legacy policy point
    (n=1200 -> 6 bands of 3, 18 signatures): the operator derives the
    banding from the corpus count, the oracle CTEs from the same
    function via n_rows -- the emb_banding-style proof that the two
    sides stay in lockstep when the policy leaves the legacy floor."""
    import duckdb

    from boilerpipe_coffee_spark.operators.dedup import (
        _minhash_pairs_ctes,
        dedup_minhash_lsh,
        minhash_banding,
    )

    rows = _nonlegacy_corpus()
    assert minhash_banding(len(rows)) == (6, 3)
    d = _write_documents(tmp_path, rows)

    got = sorted(
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, d).collect()
    )
    sql = (
        f"WITH {_minhash_pairs_ctes(n_rows=len(rows))} "
        "SELECT doc_a, doc_b FROM lsh_pairs ORDER BY doc_a, doc_b"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    want = sorted((a, b) for a, b in con.sql(sql).fetchall())
    con.close()
    assert got == want
    # the parity is non-trivial: the planted exact dups MUST pair at
    # any banding width, and near dups should survive (6, 3)
    pair_set = set(got)
    for j in range(10):
        assert (j, 2000 + j) in pair_set
    near_hits = sum((100 + j, 3000 + j) in pair_set for j in range(10))
    assert near_hits >= 8, f"near-dup recall collapsed: {near_hits}/10"


def _reference_candidate_pairs(rows, bucket_cap, n_docs):
    """Pure-Python MinHash-LSH candidate pairs: the same tokenizer,
    3-shingle set, md5 60-bit hash, affine family, band keys and
    per-row bucket cap as minhash_candidate_pairs, then every
    doc_a < doc_b pair inside each surviving bucket."""
    import hashlib
    import re
    from collections import defaultdict

    from boilerpipe_coffee_spark.operators.dedup import (
        _MINHASH_AB,
        _P,
        minhash_banding,
    )

    b, r = minhash_banding(n_docs)
    buckets = defaultdict(list)
    for doc_id, text in rows:
        toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if not shingles:
            continue
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _P for s in shingles]
        sig = [min((a * h + c) % _P for h in hs) for a, c in _MINHASH_AB[: b * r]]
        for j in range(b):
            key = "-".join([str(j)] + [str(v) for v in sig[j * r : j * r + r]])
            buckets[key].append(doc_id)
    return {
        (x, y)
        for ids in buckets.values()
        if len(ids) <= bucket_cap
        for x in ids
        for y in ids
        if x < y
    }


@pytest.mark.parametrize("n_docs", [100, 20_000])
@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_minhash_candidate_pairs_match_brute_force(spark, id_type, n_docs):
    """Exact pair-set equality with the pure-Python reference at the
    legacy (4, 2) and the widest (8, 4) banding: a bucket of exactly
    ``bucket_cap`` copies pairs in full, a flood of ``bucket_cap + 1``
    copies pairs not at all, and a repeated doc_id row never pairs
    with itself."""
    import random

    from boilerpipe_coffee_spark.operators.dedup import minhash_candidate_pairs

    cap = 5
    rng = random.Random(11)
    vocab = ["w%02d" % i for i in range(60)]
    rows = []
    for i in range(24):  # near-dup families: base + one-word variants
        base = [rng.choice(vocab) for _ in range(30)]
        rows.append((i, " ".join(base)))
        if i % 3 == 0:
            base[rng.randrange(30)] = "zzvariant"
            rows.append((100 + i, " ".join(base)))
    at_cap = " ".join(rng.choice(vocab) for _ in range(25)) + " capped bucket"
    flood = " ".join(rng.choice(vocab) for _ in range(25)) + " flood bucket"
    rows += [(200 + k, at_cap) for k in range(cap)]
    rows += [(300 + k, flood) for k in range(cap + 1)]
    rows += [rows[0], (400, "too short")]  # repeated doc_id row; no shingles
    if id_type == "string":
        rows = [("doc-%04d" % i, t) for i, t in rows]
    want = _reference_candidate_pairs(rows, cap, n_docs)
    df = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    got = {
        (p.doc_a, p.doc_b)
        for p in minhash_candidate_pairs(df, cap, n_docs=n_docs).collect()
    }
    assert got == want
    ids = (lambda i: "doc-%04d" % i) if id_type == "string" else (lambda i: i)
    capped = {
        (ids(200 + x), ids(200 + y)) for x in range(cap) for y in range(x + 1, cap)
    }
    assert capped <= got
    assert not any(ids(300) <= a <= ids(305) for pair in got for a in pair)
    assert all(a != b for a, b in got)


def test_dedup_incremental_semantics(spark, tmp_path):
    """Planted split-aware corpus: exact/near matches across the
    batch boundary are flagged with the MIN existing doc_id;
    intra-batch duplicates are deliberately NOT flagged (the standard
    dedup ops own the kept batch); unmatched incoming docs keep."""
    import duckdb

    from boilerpipe_coffee_spark.operators.dedup import (
        DEDUP_INCREMENTAL_SQL,
        dedup_incremental,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon "
    ) * 4
    other = "totally different text about sailing boats and the sea " * 6
    rows = [
        # existing corpus (doc_id % 5 != 0)
        (1, base + "phi chi psi"),
        (2, base + "phi chi psi"),     # same text as 1 (min id = 1)
        (3, other),
        # incoming batch (doc_id % 5 == 0)
        (10, base + "phi chi psi"),    # exact dup of existing 1
        (15, base + "phi rho omega"),  # near dup of existing 1/2
        (20, "unique incoming content about telescopes and stars " * 6),
        (25, "duplicate only within the batch " * 8),
        (30, "duplicate only within the batch " * 8),  # intra-batch twin
    ]
    d = _write_documents(tmp_path, rows)
    got = {r.doc_id: r for r in dedup_incremental(spark, d).collect()}
    assert set(got) == {10, 15, 20, 25, 30}
    assert got[10].exact_dup_of == 1 and not got[10].keep
    assert got[15].exact_dup_of == -1
    assert got[15].near_dup_of in (1, 2) and not got[15].keep
    assert got[20].keep and got[20].exact_dup_of == -1
    # intra-batch twins are NOT each other's dups here
    for i in (25, 30):
        assert got[i].exact_dup_of == -1 and got[i].keep
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(DEDUP_INCREMENTAL_SQL).fetchall())
    con.close()
    assert sorted(tuple(r) for r in got.values()) == want
