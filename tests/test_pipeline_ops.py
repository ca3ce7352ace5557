"""Tests for the partitioned resume runner, the balanced extraction
path, and multimodal plumbing."""

import shutil

import pytest

from boilerpipe_coffee_spark.operators import extract
from boilerpipe_coffee_spark.operators.multimodal import (
    decode_features,
    media_payloads,
)
from boilerpipe_coffee_spark.operators.pipeline import run_partitioned
from boilerpipe_coffee_spark.sources import INTERLEAVED_SCHEMA, synth_interleaved

from helpers import load_golden


@pytest.fixture(scope="module")
def t1_df(spark):
    docs = load_golden("t1_docs")
    rows = [(d["doc_id"], d["spans"]) for d in docs]
    return spark.createDataFrame(rows, schema=INTERLEAVED_SCHEMA).cache()


def test_run_partitioned_resume(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("ppl"))
    docs = synth_interleaved(spark, 60, seed=7, partitions=4)
    s1 = run_partitioned(spark, docs, out_dir, n_buckets=4)
    assert s1["buckets_run"] == 4 and s1["buckets_skipped"] == 0
    assert s1["docs_out"] == 60
    # lineage: docs_in counted from the input, equals docs_out per bucket
    metrics = spark.read.parquet(out_dir + "/metrics").collect()
    assert sum(m.docs_in for m in metrics) == 60
    assert all(m.docs_in == m.docs_out for m in metrics)
    # block-classification breakdown: text + media spans == spans_out,
    # and a non-quarantined corpus emits some of each
    assert all(
        m.content_blocks_out + m.media_spans_out == m.spans_out
        for m in metrics
    )
    assert sum(m.content_blocks_out for m in metrics) > 0
    assert sum(m.media_spans_out for m in metrics) > 0
    # resume: everything committed -> nothing re-runs
    s2 = run_partitioned(spark, docs, out_dir, n_buckets=4)
    assert s2["buckets_run"] == 0 and s2["buckets_skipped"] == 4
    # drop ONE bucket's commit marker -> exactly that bucket re-runs,
    # the other buckets' data untouched, no duplicated doc_ids
    shutil.rmtree(out_dir + "/metrics/partition_id=2")
    s3 = run_partitioned(spark, docs, out_dir, n_buckets=4)
    assert s3["buckets_run"] == 1 and s3["buckets_skipped"] == 3
    data = spark.read.parquet(out_dir + "/data")
    assert data.count() == 60
    assert data.select("doc_id").distinct().count() == 60
    # drop all metrics -> full re-run, still idempotent
    shutil.rmtree(out_dir + "/metrics")
    s4 = run_partitioned(spark, docs, out_dir, n_buckets=4)
    assert s4["buckets_run"] == 4
    assert spark.read.parquet(out_dir + "/data").count() == 60


def test_run_partitioned_empty_input(spark, tmp_path_factory):
    """A fully-empty input (or filter) must commit zero-row markers for
    every pending bucket, not crash on reading back a fileless
    partitionBy write."""
    out_dir = str(tmp_path_factory.mktemp("ppl_empty"))
    docs = synth_interleaved(spark, 10, seed=5, partitions=2).filter(
        "doc_id = 'no-such-doc'"
    )
    s = run_partitioned(spark, docs, out_dir, n_buckets=4)
    assert s == {
        "buckets_run": 4,
        "buckets_skipped": 0,
        "docs_out": 0,
        "errors": 0,
    }
    s2 = run_partitioned(spark, docs, out_dir, n_buckets=4)
    assert s2["buckets_run"] == 0 and s2["buckets_skipped"] == 4


def test_run_partitioned_scans_input_O1_times(spark, tmp_path_factory):
    """The hash-bucket predicate cannot push down, so the input must be
    read a CONSTANT number of times (one lineage count + one extract
    pass), not once per bucket."""
    out_dir = str(tmp_path_factory.mktemp("ppl_scan"))
    n = 40
    acc = spark.sparkContext.accumulator(0)
    docs = synth_interleaved(spark, n, seed=9, partitions=4)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = docs.mapInPandas(counting, schema=docs.schema)
    s = run_partitioned(spark, counted, out_dir, n_buckets=8)
    assert s["docs_out"] == n
    # 8 buckets x 2 scans each would be 640; O(1) scans read 2n = 80
    assert acc.value <= 2 * n, f"input rows processed {acc.value} > {2 * n}"


def test_run_partitioned_writes_one_file_per_bucket(spark, tmp_path_factory):
    """4 input partitions x 8 buckets: the extracted rows are clustered
    by bucket before the write, so the pass lands at most one file per
    bucket (one writer per (input task, bucket) would write up to 32),
    and the rows are exactly plain extraction's."""
    import glob

    from pyspark.sql import functions as F

    out_dir = str(tmp_path_factory.mktemp("ppl_files"))
    docs = synth_interleaved(spark, 80, seed=13, partitions=4)
    s = run_partitioned(spark, docs, out_dir, n_buckets=8)
    assert s["docs_out"] == 80
    files = glob.glob(out_dir + "/data/bucket=*/*.parquet")
    assert 0 < len(files) <= 8, files

    def digest(df):
        cols = ["doc_id", "title", "spans", "error"]
        return tuple(
            df.select(F.count("*"), F.bit_xor(F.xxhash64(*cols))).first()
        )

    written = spark.read.parquet(out_dir + "/data").drop("bucket")
    assert digest(written) == digest(extract(docs, "ArticleExtractor"))


def test_multimodal_decode(spark, t1_df):
    import hashlib

    import numpy as np

    from boilerpipe_coffee_spark.operators import media_codecs as mc
    from boilerpipe_coffee_spark.operators.multimodal import synth_payload

    out = extract(t1_df, "KeepEverythingExtractor")
    media = media_payloads(out)
    feats = decode_features(media)
    rows = feats.collect()
    assert rows, "t1 corpus contains media spans"
    kinds = set()
    for r in rows:
        kinds.add(r.kind)
        assert r.n_bytes and r.n_bytes > 44  # real container bytes
        assert len(r.magic) == 8
        assert len(r.embedding) == 8
        assert all(-1.0 <= v <= 1.0 for v in r.embedding)
        # decoded dims must equal what an independent parse of the
        # payload says -- not a hash-derived fake
        h = hashlib.md5(r.media_ref.encode()).digest()
        if r.kind == "image":
            assert r.magic == "89504e47"  # \x89PNG
            assert (r.width, r.height) == (8 + h[0] % 56, 8 + h[1] % 56)
            assert r.duration_ms is None
            d = mc.read_png(bytes(synth_payload(r.media_ref, "image")))
            assert (d["width"], d["height"]) == (r.width, r.height)
            # embedding mean matches the real pixel mean
            pix = np.frombuffer(d["pixels"], dtype=np.uint8)
            assert abs(r.embedding[0] - (pix.mean() / 255 * 2 - 1)) < 1e-6
        if r.kind == "audio":
            assert r.magic == "52494646"  # RIFF
            n = 1600 + int.from_bytes(h[2:4], "big") % 6400
            assert r.duration_ms == round(n * 1000 / 8000)
            assert r.width is None and r.height is None
        if r.kind == "video":
            assert r.magic == "47494638"  # GIF8
            d = mc.read_gif(bytes(synth_payload(r.media_ref, "video")))
            assert (r.width, r.height) == (d["width"], d["height"])
            assert r.duration_ms == d["duration_ms"] > 0
    assert {"image", "audio", "video"} <= kinds
    # deterministic across runs
    again = decode_features(media).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_multimodal_decode_quarantines_corrupt(spark):
    import pandas as pd

    from boilerpipe_coffee_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        synth_payload,
    )

    good = synth_payload("m1", "image")
    corrupt = good[:20] + b"\x00\x00\x00\x00" + good[24:]  # break CRC
    vid = synth_payload("m5", "video")
    aud = synth_payload("m6", "audio")
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d1", "d2", "d2", "d3", "d3", "d3", "d4"],
            "media_ref": ["m1", "m2", "m3", "m4", "m5", "m6", "m7", "m8"],
            "kind": [
                "image", "image", "audio", "video",
                # TRUNCATED payloads (ADVICE r4): these used to escape
                # the quarantine as struct.error/IndexError and fail
                # the whole job; [:10] cuts mid-header, [:7] cuts the
                # GIF dimensions short
                "video", "audio", "video",
                # null payload: bytes(None) would TypeError
                "image",
            ],
            "payload": [
                good,
                corrupt,
                b"\x00garbage",
                synth_payload("m4", "audio"),  # kind/container mismatch
                vid[:10],
                aud[:7],
                vid[:7],
                None,
            ],
        }
    )
    feats = {
        r.media_ref: r
        for r in decode_features(
            spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
        ).collect()
    }
    assert feats["m1"].width is not None
    for bad in ("m2", "m3", "m4", "m5", "m6", "m7", "m8"):
        assert feats[bad].n_bytes is None, bad
        assert feats[bad].embedding is None, bad


def test_multimodal_resize_and_frame_sample(spark, t1_df):
    from boilerpipe_coffee_spark.operators.multimodal import (
        resize_images,
        sample_frames,
    )

    out = extract(t1_df, "KeepEverythingExtractor")
    media = media_payloads(out)

    from boilerpipe_coffee_spark.operators import media_codecs as mc

    resized = resize_images(media, max_px=16).collect()
    assert resized, "t1 corpus contains images"
    for r in resized:
        assert max(r.resized_w, r.resized_h) <= 16
        # aspect preserved within integer rounding: each dim is the
        # rounded scale of the source (+/-0.5 px)
        scale = min(16 / r.width, 16 / r.height, 1.0)
        assert abs(r.resized_w - r.width * scale) <= 0.5
        assert abs(r.resized_h - r.height * scale) <= 0.5
        # payload is a REAL PNG of exactly the declared resized dims
        d = mc.read_png(bytes(r.payload))
        assert (d["width"], d["height"]) == (r.resized_w, r.resized_h)
    # never upscale
    assert all(r.resized_w <= r.width and r.resized_h <= r.height
               for r in resized)

    frames = sample_frames(media, every_ms=1000).collect()
    assert frames, "t1 corpus contains videos"
    by_ref = {}
    for f in frames:
        by_ref.setdefault(f.media_ref, []).append(f)
    for ref, fs in by_ref.items():
        fs.sort(key=lambda f: f.frame_idx)
        assert [f.frame_idx for f in fs] == list(range(len(fs)))
        assert [f.t_ms for f in fs] == [i * 1000 for i in range(len(fs))]
        assert len({bytes(f.frame) for f in fs}) == len(fs)  # distinct frames
        # every emitted frame is a real PNG whose pixels equal the GIF
        # frame active at that timestamp
        from boilerpipe_coffee_spark.operators.multimodal import synth_payload

        gif = mc.read_gif(bytes(synth_payload(ref, "video")))
        import numpy as np

        ends = np.cumsum([dl * 10 for dl in gif["delays_cs"]])
        for f in fs:
            png = mc.read_png(bytes(f.frame))
            src = min(
                int(np.searchsorted(ends, f.t_ms, side="right")),
                len(ends) - 1,
            )
            assert png["pixels"] == gif["frames"][src]


def test_quality_gate_matches_batch_oracle(spark):
    """Planted corpus: the sketch-picked 'drop bottom X%' set must
    equal the batch (sort-everything) oracle's answer."""
    import math

    from boilerpipe_coffee_spark.operators.pretrain import (
        content_features,
        quality_gate,
    )

    # 120 docs with monotonically varying quality via token count and
    # punctuation density; duplicate content planted to exercise the
    # keep interaction
    words = ("the of and to a in that it is was " * 30).split()
    rows = []
    for i in range(120):
        n = 3 + i
        text = " ".join(words[:n]) + ("!?;" * (i % 7))
        rows.append(
            (
                f"d{i:03d}",
                "t",
                [{"kind": "text", "text": text, "media_ref": None,
                  "order": 0}],
                None,
            )
        )
    rows.append(("d999", "t", rows[10][2], None))  # exact dup of d010
    extracted = spark.createDataFrame(
        rows,
        "doc_id string, title string, spans array<struct<kind:string,"
        "text:string,media_ref:string,`order`:int>>, error string",
    )
    features = content_features(extracted, min_tokens=0, max_dup_bigram=1.0)
    gated, thr = quality_gate(features, 25.0)
    got = {
        r.doc_id: (r.quality, r.passes_quality, r.keep)
        for r in gated.collect()
    }

    # batch oracle: bin every quality, sort, threshold at ceil(25% * n)
    bins = {d: round(round(q * 10000) // 10) for d, (q, _, _) in got.items()}
    srt = sorted(bins.values())
    thr_bin = srt[math.ceil(0.25 * len(srt)) - 1]
    assert thr == thr_bin / 1000.0
    for d, (q, passes, keep) in got.items():
        assert passes == (bins[d] >= thr_bin), d
    dropped = [d for d, (_, p, _) in got.items() if not p]
    assert 0 < len(dropped) <= 0.25 * len(got)
    # quality folds into keep: a passing doc keeps only if canonical
    assert got["d999"][2] is False or got["d010"][2] is False
    # and a dropped doc never keeps
    assert all(not got[d][2] for d in dropped)


def test_emit_chunks_round_trips_tokens(spark):
    """Every doc's chunk_texts, concatenated in chunk order, must
    re-tokenize to exactly the doc's token sequence, and chunk token
    counts must follow the ceil/least arithmetic."""
    import math

    from pyspark.sql import functions as F

    from boilerpipe_coffee_spark.functions import TOKENS
    from boilerpipe_coffee_spark.operators.pretrain import emit_chunks

    texts = [
        ("d1", "one two three four five six seven"),
        ("d2", "a"),
        ("d3", ""),  # zero tokens -> zero chunks
        ("d4", " ".join(f"tok{i}" for i in range(11))),
    ]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    cl = 3
    chunks = emit_chunks(df, context_len=cl).collect()
    by_doc = {}
    for c in sorted(chunks, key=lambda c: (c.doc_id, c.chunk_idx)):
        by_doc.setdefault(c.doc_id, []).append(c)
    toks = {
        r.doc_id: r.t
        for r in df.select("doc_id", F.expr(TOKENS).alias("t")).collect()
    }
    assert "d3" not in by_doc
    for doc_id, cs in by_doc.items():
        expect = toks[doc_id]
        assert len(cs) == math.ceil(len(expect) / cl)
        rejoined = " ".join(c.chunk_text for c in cs).split(" ")
        assert rejoined == expect, doc_id
        assert [c.chunk_tokens for c in cs] == [
            min(cl, len(expect) - i * cl) for i in range(len(cs))
        ]


def test_extract_balanced_matches_plain_extract(spark):
    from boilerpipe_coffee_spark.operators.pipeline import extract_balanced

    docs = synth_interleaved(spark, 120, seed=11, giant_max=400, partitions=4)
    plain = {r.doc_id: r for r in extract(docs, "ArticleExtractor").collect()}
    routed = {
        r.doc_id: r
        for r in extract_balanced(docs, "ArticleExtractor", giant_chars=20_000).collect()
    }
    assert set(plain) == set(routed)
    for doc_id, a in plain.items():
        b = routed[doc_id]
        sa = [(s.kind, s.text, s.media_ref, s.order) for s in (a.spans or [])]
        sb = [(s.kind, s.text, s.media_ref, s.order) for s in (b.spans or [])]
        assert (a.title, sa, a.error) == (b.title, sb, b.error), doc_id


def test_extract_balanced_single_scan(spark):
    """r4: the balanced path sizes, splits, AND extracts normals in ONE
    pass over the input -- the accumulator must count each input doc
    exactly once even though giants take the repartitioned detour."""
    from boilerpipe_coffee_spark.operators.pipeline import extract_balanced

    n = 80
    acc = spark.sparkContext.accumulator(0)
    docs = synth_interleaved(spark, n, seed=11, giant_max=400, partitions=4)
    out = extract_balanced(
        docs, "ArticleExtractor", giant_chars=20_000, probe=acc
    )
    rows = out.collect()
    assert len(rows) == n
    assert acc.value == n, (
        f"input docs processed {acc.value} != {n} (not single-scan)"
    )
    # both routes exercised on this corpus
    from pyspark.sql import functions as F

    mid = out._balanced_intermediate
    split = {r.done: r.n for r in
             mid.groupBy("done").agg(F.count("*").alias("n")).collect()}
    assert split.get(True, 0) > 0 and split.get(False, 0) > 0
    mid.unpersist()


def test_canola_extractor_quarantines_every_doc(spark):
    """CanolaExtractor crashes in the reference (quirk Q10); the
    pipeline must quarantine every document rather than fail."""
    docs = synth_interleaved(spark, 30, seed=3, partitions=2)
    rows = extract(docs, "CanolaExtractor").collect()
    assert len(rows) == 30
    assert all(r.error == "reference_throw" and not r.spans for r in rows)


def test_done_buckets_missing_vs_corrupt(spark, tmp_path):
    """Resume-set reads: a MISSING metrics dir means 'nothing
    committed' (empty set); any other read failure must RAISE, not be
    masked as an empty set (which would silently re-run everything
    over a corrupt commit layout)."""
    import pytest

    from boilerpipe_coffee_spark.operators.pipeline import _done_buckets

    assert _done_buckets(spark, str(tmp_path / "nope" / "metrics")) == set()
    # crash during the FIRST metrics append leaves only _temporary/:
    # schema inference fails, but it means 'nothing committed yet'
    half = tmp_path / "half" / "metrics"
    (half / "_temporary").mkdir(parents=True)
    assert _done_buckets(spark, str(half)) == set()
    bad = tmp_path / "metrics"
    bad.mkdir()
    (bad / "garbage.parquet").write_text("not parquet at all")
    with pytest.raises(Exception):
        _done_buckets(spark, str(bad))


def test_pdf_ingestion_matches_html_path(spark):
    """PDF-sourced corpora must flow through the SAME pipeline: pages
    of real PDFs (one per original text span) parse back to the
    original text spans, and extraction output equals extracting the
    text-only original documents."""
    from pyspark.sql import functions as F

    from boilerpipe_coffee_spark.operators.multimodal import (
        pdf_to_interleaved,
        synth_pdf_corpus,
    )

    n = 60
    parsed = pdf_to_interleaved(synth_pdf_corpus(spark, n, seed=42))
    rows = parsed.collect()
    assert len(rows) == n
    assert all(r.error is None for r in rows)

    # text spans round-trip exactly (media spans are not in the PDFs)
    originals = {
        r.doc_id: r
        for r in synth_interleaved(spark, n, seed=42).collect()
    }
    for r in rows:
        exp = sorted(
            (s for s in originals[r.doc_id].spans if s.kind == "text"),
            key=lambda s: s.offset,
        )
        assert [s.text for s in r.spans] == [s.text for s in exp], r.doc_id

    # extraction equality vs the text-only HTML path
    text_only = spark.createDataFrame(
        [
            (
                d.doc_id,
                [
                    {"kind": "text", "text": s.text, "media_ref": None,
                     "offset": i}
                    for i, s in enumerate(
                        sorted(
                            (s for s in d.spans if s.kind == "text"),
                            key=lambda s: s.offset,
                        )
                    )
                ],
            )
            for d in originals.values()
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {
        r.doc_id: r
        for r in extract(
            parsed.filter(F.col("error").isNull()).select("doc_id", "spans"),
            "ArticleExtractor",
        ).collect()
    }
    exp = {
        r.doc_id: r for r in extract(text_only, "ArticleExtractor").collect()
    }
    assert set(got) == set(exp)
    for doc_id, e in exp.items():
        g = got[doc_id]
        ge = [(s.kind, s.text, s.media_ref, s.order) for s in (g.spans or [])]
        ee = [(s.kind, s.text, s.media_ref, s.order) for s in (e.spans or [])]
        assert (g.title, ge, g.error) == (e.title, ee, e.error), doc_id


def test_pdf_corrupt_payload_quarantines(spark):
    import pandas as pd

    from boilerpipe_coffee_spark.operators.multimodal import (
        pdf_to_interleaved,
    )
    from boilerpipe_coffee_spark.operators import media_codecs as mc

    good = mc.write_pdf(["page one", "page two"])
    pdf = pd.DataFrame(
        {
            "doc_id": ["ok", "bad1", "bad2"],
            "payload": [good, b"%PDF-1.4 truncated garbage", b"notapdf"],
        }
    )
    rows = {
        r.doc_id: r
        for r in pdf_to_interleaved(
            spark.createDataFrame(pdf, "doc_id string, payload binary")
        ).collect()
    }
    assert rows["ok"].error is None and len(rows["ok"].spans) == 2
    for bad in ("bad1", "bad2"):
        assert rows[bad].error and rows[bad].error.startswith("pdf_parse")
        assert rows[bad].spans == []


def test_pack_concat_split_semantics(spark):
    """Concat-and-split packing invariants, independent of the oracle:
    every token of every doc lands in exactly one bin slice, slices
    within a doc are contiguous and ordered, every bin is exactly
    CONTEXT_LEN tokens except the last, and the result is identical
    under a different parallelism (the two-phase prefix sum must not
    depend on partition count)."""
    from boilerpipe_coffee_spark.operators.textstats import (
        CONTEXT_LEN,
        pack_concat_split,
    )

    sf = "/root/testdata/sf0.001"
    rows = pack_concat_split(spark, sf).collect()
    # per-doc: slices cover [0, n_toks) with no gaps or overlaps
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append((r.bin_id, r.tok_start, r.tok_end))
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    from pyspark.sql import functions as F
    from boilerpipe_coffee_spark.functions import TOKENS

    n_toks = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.expr(TOKENS)).alias("n")
        ).collect()
        if r.n > 0
    }
    assert set(by_doc) == set(n_toks)
    for doc, slices in by_doc.items():
        slices.sort()
        assert slices[0][1] == 0
        assert slices[-1][2] == n_toks[doc]
        for (b1, _, e1), (b2, s2, _) in zip(slices, slices[1:]):
            assert e1 == s2 and b2 == b1 + 1  # contiguous, adjacent bins
    # per-bin: exactly CONTEXT_LEN tokens except the final bin
    bin_fill = defaultdict(int)
    for r in rows:
        bin_fill[r.bin_id] += r.tok_end - r.tok_start
    last = max(bin_fill)
    for b, fill in bin_fill.items():
        assert fill == CONTEXT_LEN or (b == last and fill <= CONTEXT_LEN), (
            b, fill,
        )
    total = sum(n_toks.values())
    assert sum(bin_fill.values()) == total
    assert last == (total - 1) // CONTEXT_LEN
    # partition-count invariance of the distributed prefix sum
    rows4 = pack_concat_split(spark, sf).collect()  # same session
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows4))


def test_packed_sequences_round_trip(spark):
    """Materialized packed bins: token totals conserved, every bin
    exactly CONTEXT_LEN tokens except the highest bin, and the
    concatenation of bins in bin order reproduces the concatenation of
    docs in pack order -- the training corpus survives packing
    byte-for-token."""
    from boilerpipe_coffee_spark.operators.textstats import (
        CONTEXT_LEN,
        packed_sequences,
    )
    from pyspark.sql import functions as F
    from boilerpipe_coffee_spark.functions import TOKENS

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"),
                "text")  # force the string-id (hash-ordered) path
    )
    bins = packed_sequences(docs).collect()
    tokens_by_doc = {
        r.doc_id: r.toks
        for r in docs.select(
            "doc_id", F.expr(TOKENS).alias("toks")
        ).collect()
        if len(r.toks) > 0
    }
    total = sum(len(t) for t in tokens_by_doc.values())
    assert sum(r.n_toks for r in bins) == total
    last = max(r.bin_id for r in bins)
    for r in bins:
        assert r.n_toks == CONTEXT_LEN or (
            r.bin_id == last and r.n_toks <= CONTEXT_LEN
        )
        assert len(r.seq_text.split(" ")) == r.n_toks
    # global round trip in pack (xxhash) order
    import pyspark.sql.functions as F2

    order = [
        r.doc_id
        for r in docs.filter(F2.size(F2.expr(TOKENS)) > 0)
        .select("doc_id", F2.xxhash64("doc_id").alias("k"))
        .orderBy("k", "doc_id")
        .collect()
    ]
    want = [t for d in order for t in tokens_by_doc[d]]
    got = [
        t
        for r in sorted(bins, key=lambda r: r.bin_id)
        for t in r.seq_text.split(" ")
    ]
    assert got == want


def test_pii_scrub_planted_corpus(spark, tmp_path):
    """The committed corpora contain no PII, so the driver row only
    proves the zero case; this planted corpus carries the positive
    evidence -- counts, placeholder replacement, and oracle parity on
    the same files."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from boilerpipe_coffee_spark.operators.textstats import (
        PII_SCRUB_SQL,
        pii_scrub,
    )

    rows = [
        (1, "visit https://example.com/a?b=c and http://foo.org now"),
        (2, "mail me at alice.smith+spam@example.co.uk please"),
        (3, "mixed https://x.io/p bob@y.org trailing"),
        (4, "no pii here at all"),
        (5, "edge: parens (https://z.dev/q) and dots a.b@c.de."),
        (6, "server at 10.0.255.7 and gateway 192.168.1.1 up"),
        (7, "ssn 123-45-6789 on file"),
        (8, "call (555) 123-4567 or +1 555 987 6543 today"),
        (9, "account 12345678901 and card 4111111111111111"),
        (10, "url with vt https://v.example/x\x0btail and 303-30-3030"),
    ]
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array(["pii"] * len(rows)),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))

    got = [tuple(r) for r in pii_scrub(spark, str(tmp_path)).collect()]
    # (doc_id, n_urls, n_emails, n_ips, n_ssns, n_phones, n_ids):
    # every class has at least one positive row; row 9's digit runs
    # deliberately count as BOTH phone-shaped and id-shaped (counts
    # are per-class on the original text); row 10 pins the explicit
    # whitespace class (URL stops at \x0b in BOTH engines).
    assert [r[:-1] for r in got] == [
        (1, 2, 0, 0, 0, 0, 0),
        (2, 0, 1, 0, 0, 0, 0),
        (3, 1, 1, 0, 0, 0, 0),
        (4, 0, 0, 0, 0, 0, 0),
        (5, 1, 1, 0, 0, 0, 0),
        (6, 0, 0, 2, 0, 0, 0),
        (7, 0, 0, 0, 1, 0, 0),
        (8, 0, 0, 0, 0, 2, 0),
        (9, 0, 0, 0, 0, 2, 2),
        (10, 1, 0, 0, 1, 0, 0),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = [tuple(r) for r in con.sql(PII_SCRUB_SQL).fetchall()]
    con.close()
    assert got == want


def test_pack_slices_large_clustered_ids(spark):
    """ADVICE r5 regression pin: timestamp-like clustered BIGINT doc
    ids where key div span exceeds 2^31 -- an INT pid cast would crash
    under ANSI mode (or silently wrap and corrupt the prefix offsets).
    The committed corpora (small ids) and the xxhash64 pipeline path
    (full-range span) never hit this window."""
    from boilerpipe_coffee_spark.operators.textstats import pack_slices_df

    base = 1_700_000_000_000_000  # microsecond-epoch-like, ~2^50.6
    rows = [
        (base + i, ["w%d" % j for j in range(5 + (i % 4))])
        for i in range(97)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, toks array<string>"
    )
    out = sorted(
        (r.doc_id, r.bin_id, r.tok_start, r.tok_end)
        for r in pack_slices_df(docs, window=16).collect()
    )
    # local reference: cumulative offsets in doc_id order
    s, want = 0, []
    for doc_id, toks in rows:
        n = len(toks)
        for b in range(s // 16, (s + n - 1) // 16 + 1):
            want.append(
                (doc_id, b, max(s, b * 16) - s, min(s + n, (b + 1) * 16) - s)
            )
        s += n
    assert out == sorted(want)


def test_multimodal_jpeg_decode_and_resize(spark):
    """JPEG payloads (round 8) flow through the same Spark plumbing as
    PNG: decode_features extracts real dimensions/embedding, corrupt
    or mis-declared JPEG rows quarantine, and resize_images re-encodes
    in the SAME container (JPEG in -> JPEG out)."""
    import numpy as np
    import pandas as pd

    from boilerpipe_coffee_spark.operators import media_codecs as mc
    from boilerpipe_coffee_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
        resize_images,
    )

    rng = np.random.RandomState(99)
    img = (rng.randint(0, 64, (48, 32)) + 96).astype(np.uint8)
    jpg = mc.write_jpeg(32, 48, img.tobytes())
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d1", "d1"],
            "media_ref": ["j1", "j2", "j3"],
            "kind": ["image", "image", "audio"],
            "payload": [
                jpg,
                jpg[: len(jpg) // 2],  # truncated -> quarantine
                jpg,  # JPEG declared as audio -> quarantine
            ],
        }
    )
    media = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    feats = {r.media_ref: r for r in decode_features(media).collect()}
    assert (feats["j1"].width, feats["j1"].height) == (32, 48)
    assert feats["j1"].embedding is not None
    for bad in ("j2", "j3"):
        assert feats[bad].n_bytes is None, bad

    resized = {r.media_ref: r for r in resize_images(media, max_px=16).collect()}
    # only the good row survives (quarantine surface is decode_features)
    assert set(resized) == {"j1"}
    r = resized["j1"]
    assert (r.resized_w, r.resized_h) == (11, 16)
    d = mc.read_jpeg(bytes(r.payload))  # same container out
    assert (d["width"], d["height"]) == (11, 16)
