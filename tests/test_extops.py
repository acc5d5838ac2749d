"""Extension operators (dedup / similarity / text / multimodal) vs
DuckDB oracle; approximate ops get structural checks."""

from __future__ import annotations

import pytest

from drill_spark import extops
from drill_spark.session import local_frame

from .conftest import SF_DIR, assert_same_results


@pytest.mark.parametrize("name", sorted(extops.ORACLES))
def test_extop_oracle(name, spark, duck):
    df = extops.QUERIES[name](spark, SF_DIR)
    assert_same_results(df, duck, extops.ORACLES[name])


def test_minhash_recall(spark):
    """LSH near-dup recall vs exact jaccard ground truth (>= 70%)."""
    from pyspark.sql import functions as F

    from drill_spark.ops.dedup import jaccard_pairs, minhash_near_dupes

    docs = extops._docs(spark, SF_DIR).where(F.col("doc_id") < 100)
    exact = {(r.id_a, r.id_b) for r in jaccard_pairs(docs, "doc_id", "text", 0.9).collect()}
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_near_dupes(docs, "doc_id", "text", 0.9, shingle_k=1).collect()
    }
    assert approx <= exact or not exact, "minhash verify stage must not emit false positives"
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.7, f"LSH recall too low: {recall:.2f} ({len(approx)}/{len(exact)})"


def _words(text):
    """Python replay of the verify's word set: lower, trim spaces, split
    on Java's whitespace class, drop empty tokens."""
    import re

    return set(re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" "))) - {""}


def _jaccard_half_up(a, b):
    """Exact word-set Jaccard rounded HALF_UP to 4 places."""
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    j = Fraction(len(a & b), len(a | b))
    return float((Decimal(j.numerator) / Decimal(j.denominator)).quantize(
        Decimal("0.0001"), rounding=ROUND_HALF_UP))


# (doc_id, text): equal word sets written differently, one id on two
# rows, a NULL id, a NULL text, texts without words (one of them yields a
# non-empty 3-shingle), and a pair whose Jaccard 17/32 = 0.53125 rounds
# differently HALF_UP and HALF_EVEN
_MID_COMMON = " ".join(f"y{i}" for i in range(17))
_NEAR_DUP_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The  quick brown fox\tjumps over the lazy dog "),
    (3, "the quick brown fox jumps over the lazy cat"),
    (None, "the quick brown fox jumps over the lazy dog"),
    (4, None),
    (5, "    "),
    (6, "\t \n"),
    (7, "\n\t"),
    (8, "alpha beta gamma delta"),
    (8, "epsilon zeta"),
    (9, "zeta epsilon delta gamma beta alpha"),
    (10, _MID_COMMON + " " + " ".join(f"ya{i}" for i in range(8))),
    (11, _MID_COMMON + " " + " ".join(f"yb{i}" for i in range(7))),
    (12, "dog lazy the over jumps fox brown quick"),
]


@pytest.mark.parametrize("shingle_k", [1, 3])
def test_minhash_verify_is_lossless(spark, shingle_k):
    """The verify drops no candidate that reaches the threshold and
    scores every pair with the exact word-set Jaccard (HALF_UP, 4
    places); expected values are replayed in Python."""
    from drill_spark.ops.dedup import minhash_lsh_candidates, minhash_near_dupes

    df = spark.createDataFrame(_NEAR_DUP_DOCS, "doc_id long, text string")
    words: dict = {}
    for i, text in _NEAR_DUP_DOCS:
        if i is not None and text is not None:
            words.setdefault(i, set()).update(_words(text))
    cands = {(r.id_a, r.id_b) for r in
             minhash_lsh_candidates(df, "doc_id", "text", shingle_k=shingle_k).collect()}
    # the cases above reach the verify: equal word sets (and, at k=3,
    # equal 3-shingles), merged rows of id 8, the wordless 3-shingle and
    # the midpoint pair (its word names are picked so that it is a
    # candidate at both k)
    assert {(1, 2), (10, 11)} <= cands
    assert ((8, 9) in cands) == (shingle_k == 1)
    assert ((6, 7) in cands) == (shingle_k == 3)
    for threshold in (0.5, 0.8, 1.0):
        rows = minhash_near_dupes(df, "doc_id", "text", threshold,
                                  shingle_k=shingle_k).collect()
        got = {(r.id_a, r.id_b): r.jaccard for r in rows}
        assert len(got) == len(rows), "a pair is emitted twice"
        assert set(got) <= cands
        for (a, b), j in got.items():
            assert a < b and j == _jaccard_half_up(words[a], words[b]), (a, b, j)
        want = {(a, b) for a, b in cands if words.get(a) and words.get(b)
                and _jaccard_half_up(words[a], words[b]) >= threshold}
        assert set(got) == want, (threshold, set(got) ^ want)
    assert _jaccard_half_up(words[10], words[11]) == 0.5313


def test_minhash_bucket_cap_counts_rows(spark):
    """``max_bucket_size`` caps a bucket on its row count: identical
    texts share every band bucket, so exactly the cap keeps all pairs,
    one more document drops them all, and so does a NULL-id row (it
    counts toward the bucket though it pairs with nothing). Rows that
    share an id are one document."""
    from drill_spark.ops.dedup import minhash_near_dupes

    text = "one two three four five six"
    cap = 4

    def pairs(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {(r.id_a, r.id_b, r.jaccard) for r in
                minhash_near_dupes(df, "doc_id", "text", 0.5, max_bucket_size=cap).collect()}

    docs = [(i, text) for i in range(1, cap + 1)]
    every = {(a, b, 1.0) for a in range(1, cap + 1) for b in range(a + 1, cap + 1)}
    assert pairs(docs) == every
    assert pairs(docs + [(1, text.upper())]) == every
    assert pairs(docs + [(cap + 1, text)]) == set()
    assert pairs(docs + [(None, text)]) == set()


def test_simhash_shape(spark):
    from drill_spark.ops.dedup import simhash

    fp = simhash(extops._docs(spark, SF_DIR), "doc_id", "text", bits=48)
    rows = fp.collect()
    assert len(rows) == extops._docs(spark, SF_DIR).count()
    assert all(r.fingerprint >= 0 for r in rows)


def test_ann_lsh_shape(spark):
    res = extops.q_ann_lsh(spark, SF_DIR).collect()
    assert len(res) >= 1
    assert all(r.rank <= 3 for r in res)


def test_ann_ivf_recall(spark):
    """IVF nprobe search: valid shape + recall vs exact brute force.

    With 8 cells and nprobe=3 on clustered fixtures, recall@3 should be
    well above chance (>= 0.5) and every result must be a real vector."""
    from drill_spark.ops.similarity import brute_force_topk

    embs = extops._embs(spark, SF_DIR)
    from pyspark.sql import functions as F

    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(embs, embs.where(F.col("vec_id") < 5), k=3).collect()
    }
    approx_rows = extops.q_ann_ivf(spark, SF_DIR).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert all(r.rank <= 3 for r in approx_rows)
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_multimodal_features(spark):
    rows = extops.q_multimodal_features(spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r.feat_dim == 8 and r.kind == "text/plain" and r.n_bytes > 0 for r in rows)


def test_probe_image_header_formats():
    """Header parse against bytes hand-built from the container specs
    (PNG sig+IHDR, GIF logical screen, BMP info header, JPEG SOF0)."""
    import struct

    from drill_spark.ops.multimodal import probe_image_header

    png = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", 640, 480)
    assert probe_image_header(png) == ("png", 640, 480)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200)
    assert probe_image_header(gif) == ("gif", 320, 200)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 100, -200)  # top-down: negative height
    assert probe_image_header(bmp) == ("bmp", 100, 200)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"  # APP0 to skip over
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640)
        + b"\x00\x00"
    )
    assert probe_image_header(jpeg) == ("jpeg", 640, 480)
    assert probe_image_header(b" hello world, definitely text") == ("unknown", None, None)
    assert probe_image_header(b"") == ("unknown", None, None)


def test_multimodal_probe_matches_closed_form(spark):
    """q_multimodal_probe: the mapInPandas header parse over Catalyst-built
    PNG payloads must recover the closed-form (doc_id-derived) answer."""
    rows = extops.q_multimodal_probe(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        if r.doc_id % 2 == 0:
            assert r.format == "png"
            assert r.width == 16 + r.doc_id % 64
            assert r.height == 16 + r.doc_id % 48
            assert r.n_bytes == 24
        else:
            assert r.format == "unknown" and r.width is None and r.height is None


def test_multimodal_resize(spark):
    from pyspark.sql import functions as F

    from drill_spark.ops.multimodal import attach_payload, resize

    out = resize(attach_payload(extops._docs(spark, SF_DIR).where(F.col("doc_id") < 20)), 8, 8)
    rows = out.collect()
    assert len(rows) == 20
    assert all(len(r.payload) == 64 and r.width == 8 and r.height == 8 for r in rows)


def test_multimodal_frame_sample(spark):
    from pyspark.sql import functions as F

    from drill_spark.ops.multimodal import attach_payload, frame_sample

    docs = attach_payload(extops._docs(spark, SF_DIR).where(F.col("doc_id") < 10))
    out = frame_sample(docs, n_frames=4)
    rows = out.collect()
    assert len(rows) == 40  # 1 row in -> n_frames rows out
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_doc.values())


def test_lsh_multiprobe_recall_dominates(spark):
    """Multiprobe LSH: probing flipped low-margin buckets must find a
    superset-or-equal candidate pool vs single-probe, so per-query best
    cosine can only improve; and it stays fully JVM-side."""
    from drill_spark import plans
    from drill_spark.ops.similarity import lsh_topk

    embs = extops._embs(spark, SF_DIR)
    one = lsh_topk(embs, query_ids=[0, 1, 2, 3, 4], k=3, nprobe=1)
    multi = lsh_topk(embs, query_ids=[0, 1, 2, 3, 4], k=3, nprobe=3)
    assert not plans.has_python_eval(multi)
    best1 = {r["query_id"]: r["cosine"] for r in one.where("rank = 1").collect()}
    best3 = {r["query_id"]: r["cosine"] for r in multi.where("rank = 1").collect()}
    assert set(best1) <= set(best3)  # multiprobe never loses a query
    for q, c in best1.items():
        assert best3[q] >= c - 1e-9, f"multiprobe regressed query {q}"


def test_simhash_pairs_complete(spark):
    """Banded SimHash candidates must be COMPLETE when max_hamming <
    bands (pigeonhole: <=3 differing bits cannot touch all 4 bands), so
    the result equals brute-force all-pairs hamming <= 3 — and must stay
    JVM-side."""
    from pyspark.sql import functions as F

    from drill_spark import plans
    from drill_spark.ops.dedup import simhash, simhash_near_dupes

    docs = extops._docs(spark, SF_DIR).where(F.col("doc_id") < 200)
    fp = simhash(docs, "doc_id", "text", bits=48)
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("fingerprint").alias("fa"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("fingerprint").alias("fb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .where("hamming <= 3")
    )
    expect = {(r.id_a, r.id_b, r.hamming) for r in brute.collect()}
    got_df = simhash_near_dupes(docs, "doc_id", "text", bits=48, bands=4, max_hamming=3)
    assert not plans.has_python_eval(got_df)
    got = {(r.id_a, r.id_b, r.hamming) for r in got_df.collect()}
    assert got == expect, f"banded != brute: missing {expect - got}, extra {got - expect}"


def test_topk_sketch_matches_exact(spark):
    """approx_top_k must agree with the exact top-k on fixture scale
    (sketch capacity far exceeds distinct tokens here)."""
    exact = {
        (r["token"], r["n"])
        for r in extops.q_text_token_freq(spark, SF_DIR).limit(10).collect()
    }
    approx = {(r["token"], r["n"]) for r in extops.q_text_topk_approx(spark, SF_DIR).collect()}
    # the top-10 heavy hitters must be found with exact counts
    top10_exact = set(sorted(exact, key=lambda t: (-t[1], t[0]))[:10])
    assert top10_exact <= approx | top10_exact  # approx may order ties differently
    assert len(approx & exact) >= 8


def test_dedup_clusters_match_union_find(spark):
    """Distributed connected components must equal driver-side
    union-find on the same pair set, and every cluster keeps exactly
    one canonical doc."""
    rows = extops.q_dedup_clusters(spark, SF_DIR).collect()
    from pyspark.sql import functions as F

    from drill_spark.ops.dedup import simhash_near_dupes

    docs = extops._docs(spark, SF_DIR).where(F.col("doc_id") < 200)
    pairs = [
        (r.id_a, r.id_b)
        for r in simhash_near_dupes(docs, "doc_id", "text", bits=48, bands=4, max_hamming=3).collect()
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    got = {r["doc_id"]: r["cluster_id"] for r in rows}
    for doc in got:
        expect = find(doc) if doc in parent else doc
        assert got[doc] == expect, f"doc {doc}: {got[doc]} != {expect}"
    keeps = [r for r in rows if r["keep"]]
    assert len({r["cluster_id"] for r in rows}) == len(keeps)
    assert all(r["doc_id"] == r["cluster_id"] for r in keeps)


def test_multimodal_audio_chunking(spark):
    """Audio windowing stub: overlapping chunks tile the payload with
    the configured stride; time bounds consistent with byte offsets."""
    from drill_spark.ops.multimodal import attach_payload, audio_chunk

    docs = extops._docs(spark, SF_DIR).where("doc_id < 5")
    media = attach_payload(docs)
    rows = audio_chunk(media, sample_rate=100, bytes_per_sample=1, chunk_s=2.0, overlap_s=0.5).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        for i, c in enumerate(chunks):
            assert c["chunk_idx"] == i
            assert abs((c["end_s"] - c["start_s"]) - len(c["chunk"]) / 100) < 1e-6
            if i:  # stride = chunk - overlap = 1.5s
                assert abs(c["start_s"] - chunks[i - 1]["start_s"] - 1.5) < 1e-6
        total = bytes(media.where(f"doc_id = {doc_id}").head()["payload"])
        # chunks cover the payload end
        assert abs(chunks[-1]["end_s"] - len(total) / 100) < 1e-6


def test_media_codecs_roundtrip():
    """REAL codec paths: BMP and WAV roundtrip bit-exactly; PNG decode
    agrees with the BMP decode of the same pixels."""
    import numpy as np

    from drill_spark.ops.multimodal import (
        decode_bmp,
        decode_png,
        decode_wav,
        encode_bmp,
        encode_wav,
        resize_image,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    assert (decode_bmp(encode_bmp(img)) == img).all()

    # PNG via zlib: build a minimal non-interlaced RGB PNG for the same pixels
    import struct
    import zlib

    def chunk(typ, data):
        c = typ + data
        return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))

    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(img.shape[0]))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(png) == img).all()

    x = np.sin(np.linspace(0, 20, 400)) * 0.5
    y, rate = decode_wav(encode_wav(x, 16000))
    assert rate == 16000 and len(y) == 400
    assert np.abs(y - x).max() < 1e-3

    small = decode_bmp(resize_image(encode_bmp(img), 3, 2))
    assert small.shape == (2, 3, 3)
    # nearest-neighbor: sampled pixels come from the source image
    assert all(
        any((small[r, c] == img[y, x]).all() for y in range(5) for x in range(7))
        for r in range(2) for c in range(3)
    )


def test_avi_video_codec_roundtrip():
    """AVI container (ops/video.py): raw BI_RGB frames are byte-exact
    through encode/decode; MJPG frames route through the from-scratch
    JPEG codec; header metadata (dims/fps/frame count) round-trips."""
    import numpy as np

    from drill_spark.ops.video import decode_avi, encode_avi, parse_avi, sample_frames

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8) for _ in range(7)]
    avi = encode_avi(frames, fps=12)
    meta, out = decode_avi(avi)
    assert (meta["width"], meta["height"], meta["fps"], meta["n_frames"]) == (5, 6, 12, 7)
    for a, b in zip(frames, out):
        assert (a == b).all()

    # evenly-strided REAL frame selection with source indexes
    picked = sample_frames(avi, 3)
    assert [i for i, _ in picked] == [0, 3, 6]
    assert picked[1][1] == parse_avi(avi)["frames"][3]

    # MJPG: constant-gray frames are exact through the JPEG DC path
    grays = [np.full((8, 8, 3), v, dtype=np.uint8) for v in (40, 90, 200)]
    m2, o2 = decode_avi(encode_avi(grays, fps=3, codec="mjpg"))
    assert m2["n_frames"] == 3
    assert [float(f.mean()) for f in o2] == [40.0, 90.0, 200.0]


def test_frame_sample_real_avi(spark):
    """frame_sample over AVI payloads returns genuine container frames
    (frame_idx = source index), not byte slices."""
    import numpy as np

    from drill_spark.ops.multimodal import frame_sample
    from drill_spark.ops.video import encode_avi

    frames = [np.full((4, 4, 3), 20 * i, dtype=np.uint8) for i in range(6)]
    avi = encode_avi(frames, fps=10)
    df = spark.createDataFrame([(1, bytearray(avi))], "doc_id bigint, payload binary")
    rows = sorted(frame_sample(df, n_frames=3).collect(), key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in rows] == [0, 2, 5]
    from drill_spark.ops.video import decode_frame, parse_avi

    meta = parse_avi(avi)
    for r in rows:
        img = decode_frame(bytes(r.frame), meta)
        assert float(img.mean()) == 20.0 * r.frame_idx


def test_cosine_dedup_triangle_join_exact(spark):
    """The salted triangle join returns EXACTLY the single-block join's
    pairs (same ids, same cosines) — the salt only redistributes work."""
    from drill_spark.ops.similarity import cosine_dedup_pairs
    from drill_spark.session import load_fixture

    embs = load_fixture(spark, "/root/testdata/sf0.001", "embeddings")
    base = sorted(
        map(tuple, cosine_dedup_pairs(embs, threshold=0.3, n_salt=1).collect()))
    for s in (3, 8):
        salted = sorted(
            map(tuple, cosine_dedup_pairs(embs, threshold=0.3, n_salt=s).collect()))
        assert salted == base
    assert len(base) > 0


def test_cosine_dedup_prefilter_is_lossless(spark):
    """The Cauchy-Schwarz prefix-bound pre-filter (r14) never changes
    the emitted pair set — any prefilter_dims, fixture pairs AND edge
    vectors (NULL, ragged, empty, zero-norm, NaN element in prefix and
    in suffix, short vector, near-threshold rounding boundary)."""
    import math

    from drill_spark.ops.similarity import cosine_dedup_pairs
    from drill_spark.session import load_fixture

    def norm(t):
        # NaN != NaN breaks tuple equality; compare a stable key
        return sorted(
            (r[0], r[1], r[2], "nan" if r[3] is not None and math.isnan(r[3]) else r[3])
            for r in t
        )

    embs = load_fixture(spark, "/root/testdata/sf0.001", "embeddings")
    for thr in (0.3, 0.95):
        base = norm(cosine_dedup_pairs(embs, threshold=thr, prefilter_dims=0).collect())
        for p in (3, 16, 64, 1000):  # 1000 exercises the 64 cap
            got = norm(cosine_dedup_pairs(embs, threshold=thr, prefilter_dims=p).collect())
            assert got == base, (thr, p)
    # auto policy: on at 0.95, off at 0.35 — both must match the unfiltered set
    for thr in (0.35, 0.95):
        assert norm(cosine_dedup_pairs(embs, threshold=thr).collect()) == norm(
            cosine_dedup_pairs(embs, threshold=thr, prefilter_dims=0).collect())

    nan = float("nan")
    edge = spark.createDataFrame(
        [(1, 0, [1.0, 0.0, 0.0, 0.0]),       # cosine(1,2)=1.0 -> emitted
         (2, 0, [1.0, 0.0, 0.0, 0.0]),
         (3, 0, None),                        # NULL vector
         (4, 0, [1.0, 2.0]),                  # short + ragged vs others
         (5, 0, []),                          # empty: dot 0, norm 0 -> NaN cosine
         (6, 0, [0.0, 0.0, 0.0, 0.0]),        # zero norm -> NaN cosine
         (7, 0, [nan, 1.0, 1.0, 1.0]),        # NaN in prefix
         (8, 0, [1.0, 1.0, 1.0, nan]),        # NaN in suffix
         (9, 0, [0.9499, 0.3124, 0.0, 0.0]),  # near-threshold vs id 1
         (10, 0, [0.95, 0.31224989991991996, 0.0, 0.0])],
        "vec_id bigint, label int, embedding array<double>")
    for thr in (0.3, 0.95):
        base = norm(cosine_dedup_pairs(edge, threshold=thr, prefilter_dims=0).collect())
        for p in (1, 2, 3, 16):
            got = norm(cosine_dedup_pairs(edge, threshold=thr, prefilter_dims=p).collect())
            assert got == base, (thr, p, got, base)
    assert len(base) > 0


def test_cosine_pair_dot_edge_values(spark):
    """The pair stage's dot fold on edge pairs: a NULL vector or a
    ragged pair gives NULL (zip_with pads with NULL, which poisons the
    sum), empty vectors give the initial 0.0."""
    from drill_spark.ops.similarity import _dot

    edge = spark.createDataFrame(
        [(1, [1.0, 2.0], [3.0, 4.0]),
         (2, None, [1.0, 1.0]),
         (3, [1.0, 2.0, 3.0], [1.0, 1.0]),
         (4, [], []),
         (5, [2.5], [4.0])],
        "id bigint, a array<double>, b array<double>")
    got = {r["id"]: r["d"] for r in edge.select("id", _dot("a", "b").alias("d")).collect()}
    assert got == {1: 11.0, 2: None, 3: None, 4: 0.0, 5: 10.0}


def test_mpeg_audio_probe():
    """Frame-header walker vs spec-built streams: layers, bitrates,
    VBR averaging, ID3v2 skip, mono/stereo, resync before first frame."""
    import pytest as _pytest

    from drill_spark.ops.multimodal import build_mpeg_frames, probe_mpeg_audio

    m = probe_mpeg_audio(build_mpeg_frames(5, bitrate_kbps=128))
    assert m["kind"] == "audio/mpeg-layer3" and m["mpeg_version"] == "1"
    assert (m["sample_rate"], m["channels"], m["n_frames"]) == (44100, 2, 5)
    assert m["duration_s"] == round(5 * 1152 / 44100, 4)
    assert m["bitrate_kbps"] == 128.0

    # layer I: 384 samples/frame, (12*br/sr)*4 frame size
    l1 = probe_mpeg_audio(build_mpeg_frames(3, layer=1, bitrate_kbps=224, channels=1))
    assert l1["kind"] == "audio/mpeg-layer1" and l1["channels"] == 1
    assert l1["duration_s"] == round(3 * 384 / 44100, 4)

    # VBR: mixed 64/192 frames -> true average
    vbr = build_mpeg_frames(2, bitrate_kbps=64) + build_mpeg_frames(2, bitrate_kbps=192)
    assert probe_mpeg_audio(vbr)["bitrate_kbps"] == 128.0

    # ID3v2 tag skipped via syncsafe size; junk before first frame resyncs
    tag = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"J" * 10
    assert probe_mpeg_audio(tag + build_mpeg_frames(2))["n_frames"] == 2
    assert probe_mpeg_audio(b"\x00" * 7 + build_mpeg_frames(2))["n_frames"] == 2

    with _pytest.raises(NotImplementedError, match="MPEG"):
        probe_mpeg_audio(b"not audio at all")


def test_mpeg_sample_decode_permanent_boundary():
    """The MP3 sample-decode gate is NAMED (COVERAGE.md permanent
    boundary, r7): decode_media on an MPEG-audio payload raises with
    the boundary explanation instead of the generic codec message,
    while probe_mpeg_audio on the same payload stays fully real."""
    import pytest as _pytest

    from drill_spark.ops.multimodal import (
        build_id3v2, build_mpeg_frames, decode_media, probe_mpeg_audio)

    stream = build_mpeg_frames(3, bitrate_kbps=128)
    for payload in (stream, build_id3v2({"TIT2": "t"}) + stream):
        assert probe_mpeg_audio(payload)["n_frames"] == 3
        with _pytest.raises(NotImplementedError,
                            match="MPEG audio sample decode"):
            decode_media(payload)


def test_avi_property_roundtrip():
    """Property: any stack of random RGB frames round-trips byte-exact
    through the raw-DIB AVI writer/reader at any fps/shape."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from drill_spark.ops.video import decode_avi, encode_avi

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 6), st.integers(1, 9), st.integers(1, 7),
        st.integers(1, 60), st.integers(0, 2**32 - 1),
    )
    def check(n, w, h, fps, seed):
        rng = np.random.default_rng(seed)
        frames = [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                  for _ in range(n)]
        meta, out = decode_avi(encode_avi(frames, fps=fps))
        assert (meta["width"], meta["height"], meta["n_frames"]) == (w, h, n)
        for a, b in zip(frames, out):
            assert (a == b).all()

    check()


def test_mpeg_probe_property():
    """Property: the header walker recovers exactly what the spec-built
    generator encoded, for every MPEG1 layer/bitrate/rate/channel
    combination."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from drill_spark.ops.multimodal import (
        _MPEG_BITRATES, _MPEG_RATES, build_mpeg_frames, probe_mpeg_audio)

    @settings(max_examples=60, deadline=None)
    @given(st.integers(1, 12), st.sampled_from([1, 2, 3]),
           st.integers(0, 13), st.sampled_from([44100, 48000, 32000]),
           st.sampled_from([1, 2]))
    def check(n, layer, br_i, rate, channels):
        kbps = _MPEG_BITRATES[(1, layer)][br_i]
        m = probe_mpeg_audio(build_mpeg_frames(
            n, layer=layer, bitrate_kbps=kbps,
            sample_rate=rate, channels=channels))
        samples = 384 if layer == 1 else 1152
        assert m["kind"] == f"audio/mpeg-layer{layer}"
        assert (m["sample_rate"], m["channels"], m["n_frames"]) == (rate, channels, n)
        assert m["duration_s"] == round(n * samples / rate, 4)
        assert m["bitrate_kbps"] == float(kbps)

    check()


def test_id3v2_parser_both_versions():
    """ID3v2.4 roundtrip via the spec-built writer, plus a hand-built
    v2.3 tag (non-syncsafe frame sizes, latin-1 + UTF-16 encodings)."""
    import struct

    from drill_spark.ops.multimodal import build_id3v2, parse_id3v2

    tag = build_id3v2({"TIT2": "héllo wörld", "TPE1": "artist 3"})
    got = parse_id3v2(tag + b"\xff\xfb\x90\x00" + b"\x00" * 100)
    assert got == {"TIT2": "héllo wörld", "TPE1": "artist 3"}

    def v23_frame(fid, enc, body):
        data = bytes([enc]) + body
        return fid + struct.pack(">I", len(data)) + b"\x00\x00" + data

    frames = v23_frame(b"TIT2", 0, "plain".encode("latin1")) + v23_frame(
        b"TALB", 1, "album".encode("utf-16")
    )
    sz = len(frames)
    hdr = b"ID3\x03\x00\x00" + bytes(
        [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
    )
    assert parse_id3v2(hdr + frames) == {"TIT2": "plain", "TALB": "album"}
    assert parse_id3v2(b"\xff\xfb\x90\x00") == {}  # no tag


def test_id3v2_extended_header_and_v22():
    """Tags with the extended-header flag (0x40) must skip it before
    the frame loop — v2.3 stores its size big-endian excluding the
    size field, v2.4 syncsafe self-inclusive; ID3v2.2 (3-byte layout)
    returns {} instead of being mis-parsed."""
    import struct

    from drill_spark.ops.multimodal import parse_id3v2

    def v23_frame(fid, body):
        data = b"\x00" + body
        return fid + struct.pack(">I", len(data)) + b"\x00\x00" + data

    def syncsafe(n):
        return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])

    # v2.3: ext header = size(4, excl.) + flags(2) + padding size(4)
    ext23 = struct.pack(">I", 6) + b"\x00\x00" + struct.pack(">I", 0)
    frames = v23_frame(b"TIT2", b"ext ok")
    body = ext23 + frames
    tag23 = b"ID3\x03\x00\x40" + syncsafe(len(body)) + body
    assert parse_id3v2(tag23) == {"TIT2": "ext ok"}

    # v2.4: ext header = syncsafe size(4, incl.) + nflags(1) + flags(1)
    ext24 = syncsafe(6) + b"\x01\x00"
    f24 = b"TALB" + syncsafe(6) + b"\x00\x00" + b"\x03album"
    body = ext24 + f24
    tag24 = b"ID3\x04\x00\x40" + syncsafe(len(body)) + body
    assert parse_id3v2(tag24) == {"TALB": "album"}

    # ID3v2.2: real 3-byte-layout parse, ids mapped to v2.3 names
    tag22 = b"ID3\x02\x00\x00" + syncsafe(12) + b"TT2\x00\x00\x06\x00hello"
    assert parse_id3v2(tag22) == {"TIT2": "hello"}


def test_g711_companding_codecs():
    """G.711 mu-law/A-law closed-form codecs: table anchors, full-range
    encode(decode(c)) idempotence (minus the mu-law -0/+0 alias), the
    4-bit-mantissa error bound, and WAV format-tag 6/7 decode."""
    import numpy as np

    from drill_spark.ops.multimodal import (
        alaw_decode_byte,
        alaw_encode,
        decode_wav,
        encode_wav_g711,
        mulaw_decode_byte,
        mulaw_encode,
    )

    assert mulaw_decode_byte(0xFF) == 0 and mulaw_decode_byte(0x80) == 32124
    assert mulaw_decode_byte(0x00) == -32124
    assert alaw_decode_byte(0xD5) == 8 and alaw_decode_byte(0x55) == -8

    bad_mu = [c for c in range(256) if mulaw_encode(mulaw_decode_byte(c)) != c]
    assert bad_mu == [0x7F]  # -0 re-encodes as +0, same magnitude
    assert not [c for c in range(256) if alaw_encode(alaw_decode_byte(c)) != c]

    for enc, dec in ((mulaw_encode, mulaw_decode_byte), (alaw_encode, alaw_decode_byte)):
        for v in range(-32768, 32768, 371):
            d = dec(enc(v))
            assert abs(d - v) <= max(abs(v) / 16, 256), (v, d)

    x = np.where(np.arange(1000) % 2 == 0, 0.25, -0.25)
    for law in ("mulaw", "alaw"):
        y, rate = decode_wav(encode_wav_g711(x, 8000, law))
        assert rate == 8000 and len(y) == 1000
        assert abs(float(np.sqrt((y * y).mean())) - 0.25) < 0.01


def test_semantic_dedup_matches_bruteforce(spark):
    """SemDeDup equivalence oracle: with well-separated anchor
    directions (so clustering cannot split a duplicate group), the
    operator's groups and keep flags must equal a brute-force
    all-pairs union-find at the same cosine threshold."""
    import numpy as np

    from drill_spark.ops.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    dim, rows = 8, []
    for k in range(4):                      # 4 orthogonal anchors
        anchor = np.zeros(dim)
        anchor[k] = 1.0
        for j in range(5):                  # 5 near-dup copies each
            v = anchor + rng.normal(0, 0.02, dim)
            rows.append((k * 100 + j, (v / np.linalg.norm(v)).tolist()))
    for s in range(3):                      # singletons: far from all
        v = np.ones(dim) * (1 if s % 2 else -1) + rng.normal(0, 0.05, dim)
        rows.append((900 + s, (v / np.linalg.norm(v)).tolist()))

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.group_id, r.keep)
           for r in semantic_dedup(df, n_cells=4, threshold=0.95).collect()}

    # brute force: all-pairs cosine >= threshold -> union-find
    vecs = {i: np.array(v) for i, v in rows}
    parent = {i: i for i in vecs}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    ids = sorted(vecs)
    for a in ids:
        for b in ids:
            if a < b:
                c = float(vecs[a] @ vecs[b])
                if c >= 0.95:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    expect = {i: (find(i), find(i) == i) for i in ids}
    assert got == expect
    # sanity: 4 anchor groups of 5, the two -ones vectors pair up
    # (cosine ~1), one true singleton -> 6 canonical keepers
    assert sum(1 for _g, k in got.values() if k) == 6
    assert got[902] == (900, False) and got[901][1]


def test_semantic_dedup_auto_cells(spark):
    """n_cells=None sizes the quantizer as ceil(count/target_cell_size)
    (floored at 8, capped at max_cells) so per-cell quadratic pair work
    stays bounded as the corpus grows; with the same seed the auto path
    must be row-identical to the explicit k it resolves to."""
    import numpy as np

    from drill_spark.ops.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    rows = [(i, (v / np.linalg.norm(v)).tolist())
            for i, v in ((i, rng.normal(0, 1, 8)) for i in range(100))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    auto = semantic_dedup(df, n_cells=None, target_cell_size=5, threshold=0.99)
    explicit = semantic_dedup(df, n_cells=20, threshold=0.99)  # ceil(100/5)
    key = lambda r: (r.vec_id, r.cell, r.group_id, r.keep)
    assert sorted(map(key, auto.collect())) == sorted(map(key, explicit.collect()))
    assert auto.select("cell").distinct().count() > 8  # actually scaled past the floor

    floored = semantic_dedup(df, n_cells=None, target_cell_size=1000, threshold=0.99)
    assert floored.select("cell").distinct().count() <= 8  # ceil(100/1000) floors to 8

    capped = semantic_dedup(df, n_cells=None, target_cell_size=1, max_cells=10, threshold=0.99)
    assert capped.select("cell").distinct().count() <= 10


def test_png_palette_interlace_and_depths():
    """PNG beyond the 8-bit truecolor basics: palette color (PLTE),
    Adam7 interlacing (spec 8.2 pass layout, per-pass filtering),
    16-bit high-byte reduction, and sub-8-bit gray expansion — all
    built chunk-by-chunk from the spec and compared to closed forms."""
    import struct
    import zlib

    import numpy as np

    from drill_spark.ops.multimodal import _ADAM7, decode_png

    def chunk(typ, data):
        c = typ + data
        return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))

    def png(w, h, bitd, ctype, idat, interlace=0, plte=None):
        out = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, bitd, ctype, 0, 0, interlace)))
        if plte is not None:
            out += chunk(b"PLTE", plte.tobytes())
        return out + chunk(b"IDAT", zlib.compress(idat)) + chunk(b"IEND", b"")

    rng = np.random.default_rng(3)

    # 8-bit palette
    pal = rng.integers(0, 256, size=(5, 3), dtype=np.uint8)
    idx = rng.integers(0, 5, size=(3, 4), dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(3))
    assert (decode_png(png(4, 3, 8, 3, raw, plte=pal)) == pal[idx]).all()

    # 4-bit palette (two indices per byte, MSB first)
    idx4 = rng.integers(0, 5, size=(2, 5), dtype=np.uint8)
    rows = []
    for y in range(2):
        packed = bytearray()
        for i in range(0, 5, 2):
            hi = idx4[y, i] << 4
            lo = idx4[y, i + 1] if i + 1 < 5 else 0
            packed.append(hi | lo)
        rows.append(b"\x00" + bytes(packed))
    assert (decode_png(png(5, 2, 4, 3, b"".join(rows), plte=pal)) == pal[idx4]).all()

    # 16-bit gray: high byte kept
    g16 = rng.integers(0, 256, size=(2, 3), dtype=np.uint16)
    raw = b"".join(
        b"\x00" + ((g16[y] << 8) | 0x7F).astype(">u2").tobytes() for y in range(2))
    out = decode_png(png(3, 2, 16, 0, raw))
    assert (out == np.repeat(g16.astype("uint8")[:, :, None], 3, axis=2)).all()

    # 2-bit gray: 0..3 scaled to 0/85/170/255
    g2 = np.array([[0, 1, 2, 3, 3]], dtype=np.uint8)
    packed = bytearray()
    bitstr = "".join(f"{v:02b}" for v in g2[0]) + "0" * 6
    for i in range(0, 16, 8):
        packed.append(int(bitstr[i:i + 8], 2))
    out = decode_png(png(5, 1, 2, 0, b"\x00" + bytes(packed)))
    assert (out[:, :, 0] == g2 * 85).all()

    # Adam7 interlaced RGB equals its non-interlaced twin
    img = rng.integers(0, 256, size=(9, 10, 3), dtype=np.uint8)
    plain = b"".join(b"\x00" + img[y].tobytes() for y in range(9))
    parts = []
    for xs, ys, xst, yst in _ADAM7:
        sub = img[ys::yst, xs::xst]
        if sub.size == 0:
            continue
        parts += [b"\x00" + sub[y].tobytes() for y in range(sub.shape[0])]
    inter = png(10, 9, 8, 2, b"".join(parts), interlace=1)
    assert (decode_png(inter) == img).all()
    assert (decode_png(png(10, 9, 8, 2, plain)) == img).all()


def test_gif_decode_lzw_palette_interlace():
    """REAL GIF decode: spec-built fixtures through a minimal greedy
    LZW encoder — global palette, dictionary-growth + KwKwK streams,
    four-pass interlacing, extension skipping, background fill."""
    import struct

    import numpy as np

    from drill_spark.ops.multimodal import decode_gif, decode_media

    def lzw_encode(indices, min_code):
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code, width = eoi + 1, min_code + 1
        codes = [(clear, width)]
        wbuf = b""
        for ix in bytes(indices):
            k = wbuf + bytes([ix])
            if k in table:
                wbuf = k
                continue
            codes.append((table[wbuf], width))
            table[k] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) - 1 and width < 12:
                width += 1
            wbuf = bytes([ix])
        if wbuf:
            codes.append((table[wbuf], width))
        codes.append((eoi, width))
        acc = n = 0
        out = bytearray()
        for code, wd in codes:
            acc |= code << n
            n += wd
            while n >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                n -= 8
        if n:
            out.append(acc & 0xFF)
        return bytes(out)

    def subblocks(data):
        out = bytearray()
        for i in range(0, len(data), 255):
            part = data[i:i + 255]
            out.append(len(part))
            out += part
        out.append(0)
        return bytes(out)

    def build(w, h, pal, indices, interlace=False, ext=False):
        n = len(pal)
        bits = max(2, (n - 1).bit_length())
        gct = np.zeros((1 << bits, 3), dtype=np.uint8)
        gct[:n] = pal
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
        out += gct.tobytes()
        if ext:  # graphic-control extension must be skipped cleanly
            out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        min_code = max(2, bits)
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                     0x40 if interlace else 0)
        out += bytes([min_code])
        if interlace:
            order = []
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                order += list(range(start, h, step))
            indices = indices.reshape(h, w)[order].reshape(-1)
        out += subblocks(lzw_encode(indices.astype(np.uint8).tobytes(), min_code))
        out += b"\x3b"
        return bytes(out)

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, size=(6, 3), dtype=np.uint8)
    idx = rng.integers(0, 6, size=(11, 13), dtype=np.uint8)

    img = decode_gif(build(13, 11, pal, idx.reshape(-1), ext=True))
    assert (img == pal[idx]).all()

    inter = decode_gif(build(13, 11, pal, idx.reshape(-1), interlace=True))
    assert (inter == pal[idx]).all()

    # KwKwK stress: long runs of one index force the cScSc case
    runs = np.zeros(400, dtype=np.uint8)
    runs[::7] = 1
    img2 = decode_gif(build(20, 20, pal[:4], runs))
    assert (img2 == pal[runs.reshape(20, 20)]).all()

    got = decode_media(build(13, 11, pal, idx.reshape(-1)))
    assert got["kind"] == "image/gif" and (got["width"], got["height"]) == (13, 11)
    assert got["mean_val"] == round(float(pal[idx].mean()), 4)


def test_probe_webp_avif_headers():
    """WebP (VP8/VP8L/VP8X) and AVIF/HEIC (ISOBMFF ispe walk)
    dimension probes, built byte-by-byte from the container specs."""
    import struct

    from drill_spark.ops.multimodal import probe_image_header

    def riff(kind, chunk):
        body = kind + chunk
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk if False else \
               b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    # VP8X extended header: canvas 801 x 601
    vp8x = (b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
            + (800).to_bytes(3, "little") + (600).to_bytes(3, "little"))
    assert probe_image_header(riff(b"WEBP", vp8x)) == ("webp", 801, 601)

    # VP8L lossless: 14-bit fields, w-1 / h-1
    bits = (333 - 1) | ((222 - 1) << 14)
    vp8l = b"VP8L" + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits)
    assert probe_image_header(riff(b"WEBP", vp8l)) == ("webp", 333, 222)

    # VP8 lossy keyframe: 3-byte frame tag, start code, 14-bit dims
    vp8 = (b"VP8 " + struct.pack("<I", 10) + b"\x00\x00\x00"
           + b"\x9d\x01\x2a" + struct.pack("<HH", 640, 480))
    assert probe_image_header(riff(b"WEBP", vp8)) == ("webp", 640, 480)

    # AVIF: ftyp + meta{iprp{ipco{ispe}}}
    def box(typ, body):
        return struct.pack(">I", 8 + len(body)) + typ + body

    ispe = box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", 1024, 768))
    meta = box(b"meta", b"\x00\x00\x00\x00" + box(b"iprp", box(b"ipco", ispe)))
    ftyp = box(b"ftyp", b"avif\x00\x00\x00\x00avifmif1")
    assert probe_image_header(ftyp + meta) == ("avif", 1024, 768)
    heic = box(b"ftyp", b"heic\x00\x00\x00\x00heicmif1")
    assert probe_image_header(heic + meta) == ("heic", 1024, 768)
    assert probe_image_header(box(b"ftyp", b"avif")) == ("avif", None, None)


def test_bpe_train_and_encode():
    """BPE merge loop vs hand-derivable corpus: 'low lower lowest' x
    freqs gives the classic 'lo' -> 'low' merge order; encode_word
    applies by rank; detokenization (concat minus </w>) restores the
    word exactly for every vocab word."""
    from drill_spark.ops.bpe import _END, encode_word, train_bpe

    freqs = [("low", 5), ("lower", 2), ("lowest", 2)]
    merges = train_bpe(freqs, n_merges=3)
    assert merges[0] == ("l", "o")      # 9 occurrences of (l,o)
    assert merges[1] == ("lo", "w")     # then (lo,w) 9 times
    ranks = {p: i for i, p in enumerate(merges)}
    toks = encode_word("low", ranks)
    assert "".join(toks).replace(_END, "") == "low"
    assert toks[0] == "low" or toks[0] == "low" + _END
    # unseen word still encodes (falls back to chars + any merges)
    out = encode_word("slow", ranks)
    assert "".join(out).replace(_END, "") == "slow"


def test_bpe_stats_match_reference_impl(spark):
    """Distributed bpe_token_stats equals an independent driver-side
    re-implementation (straightforward nested loops) on real docs."""
    from pyspark.sql import functions as F

    from drill_spark.ops.bpe import (
        bpe_token_stats,
        encode_word,
        train_bpe,
        word_frequencies,
    )

    docs = extops._docs(spark, SF_DIR).where(F.col("doc_id") < 60)
    wf = word_frequencies(docs, "text")
    merges = train_bpe(wf, n_merges=50)
    assert len(merges) > 10

    got = {r.doc_id: (r.n_tokens, r.n_words)
           for r in bpe_token_stats(docs, merges).collect()}

    ranks = {p: i for i, p in enumerate(merges)}
    for r in docs.select("doc_id", "text").collect():
        words = [w for w in (r.text or "").lower().split() if w]
        n_tok = sum(len(encode_word(w, ranks)) for w in words)
        assert got[r.doc_id] == (n_tok, len(words)), r.doc_id
    # merged subwords compress: strictly fewer tokens than characters
    chars = {r.doc_id: len((r.text or "").replace(" ", ""))
             for r in docs.select("doc_id", "text").collect()}
    assert all(got[d][0] < chars[d] + got[d][1] for d in got)


def test_bpe_count_column_and_tokenizer_true_mixture(spark):
    """bpe_count_column equals the Python replay under the FIXED merge
    table, and build_mixture(tokens=...) actually changes the budget
    arithmetic: tokenizer-true availability differs from whitespace
    counts, so per-source epoch totals shift (the r11 verdict's
    'material for mixture weights' point, asserted)."""
    from pyspark.sql import functions as F

    from drill_spark.ops.bpe import (
        FIXED_MERGES_V1,
        bpe_count_column,
        encode_word,
    )
    from drill_spark.ops.pipeline import build_mixture

    docs = extops._docs(spark, SF_DIR).where(F.col("doc_id") < 80)
    got = {r.doc_id: r.n for r in docs.select(
        "doc_id", bpe_count_column("text", FIXED_MERGES_V1).alias("n")
    ).collect()}
    ranks = {p: i for i, p in enumerate(FIXED_MERGES_V1)}
    for r in docs.select("doc_id", "text").collect():
        exp = sum(len(encode_word(w, ranks))
                  for w in (r.text or "").lower().split() if w)
        assert got[r.doc_id] == exp, r.doc_id

    weights = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    ws_mix = build_mixture(docs, "source", "doc_id", "text",
                           weights, token_budget=20_000)
    bpe_mix = build_mixture(docs, "source", "doc_id", "text",
                            weights, token_budget=20_000,
                            tokens=bpe_count_column(
                                "text", FIXED_MERGES_V1))
    n_ws, n_bpe = ws_mix.count(), bpe_mix.count()
    assert n_ws > 0 and n_bpe > 0
    # BPE counts exceed word counts (subword splits), so the same
    # token budget buys FEWER epochs under the real tokenizer
    assert n_bpe < n_ws


def test_ann_pq_recall(spark):
    """PQ + ADC + exact refine: valid shape, JVM-side corpus scan, and
    recall@3 well above chance vs brute force; the no-rerank variant
    must be strictly worse-or-equal (refine only helps)."""
    from pyspark.sql import functions as F

    from drill_spark import plans
    from drill_spark.ops.similarity import brute_force_topk, pq_encode, pq_topk, pq_train

    embs = extops._embs(spark, SF_DIR)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(embs, embs.where(F.col("vec_id") < 5), k=3).collect()}
    approx_df = pq_topk(embs, [0, 1, 2, 3, 4], k=3, m=8, n_codes=16)
    rows = approx_df.collect()
    assert all(r.rank <= 3 for r in rows)
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"PQ recall too low: {recall:.2f}"

    # codes stay JVM-side and in range
    books = pq_train(embs, m=8, k=16)
    enc = pq_encode(embs, books)
    assert not plans.has_python_eval(enc)
    sample = enc.limit(20).collect()
    assert all(len(r.codes) == 8 and all(0 <= c < 16 for c in r.codes)
               for r in sample)


def test_ivfpq_recall_and_probe_restriction(spark):
    """IVFPQ (coarse cells + PQ codes + ADC + refine): recall holds vs
    brute force, and every returned neighbor genuinely lives in one of
    the query's nprobe cells (the search never touched other cells)."""
    from pyspark.sql import functions as F

    from drill_spark.ops.similarity import (
        brute_force_topk,
        ivf_assign,
        ivfpq_topk,
    )

    embs = extops._embs(spark, SF_DIR)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(embs, embs.where(F.col("vec_id") < 5), k=3).collect()}
    rows = ivfpq_topk(embs, [0, 1, 2, 3, 4], k=3, n_cells=8, nprobe=3).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVFPQ recall too low: {recall:.2f}"

    # probe restriction: neighbors come from the query's nearest cells
    assigned, cents = ivf_assign(embs, n_cells=8)
    cell_of = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
    import numpy as np

    vecs = {r.vec_id: np.array(r.embedding)
            for r in embs.where(F.col("vec_id") < 5).collect()}
    C = np.asarray(cents)
    for q, n in approx:
        d2 = ((C - vecs[q][None, :]) ** 2).sum(axis=1)
        probe_cells = set(np.argsort(d2)[:3].tolist())
        assert cell_of[n] in probe_cells, (q, n, cell_of[n], probe_cells)


def test_gif_roundtrip_property():
    """Property: any small palette image round-trips through
    encode_gif -> decode_gif exactly (greedy LZW + palette + layout)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from drill_spark.ops.multimodal import decode_gif, encode_gif

    @settings(max_examples=20, deadline=None)
    @given(st.integers(1, 24), st.integers(1, 24), st.integers(2, 16),
           st.integers(0, 2**31 - 1))
    def check(h, w, n_colors, seed):
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
        idx = rng.integers(0, n_colors, size=(h, w))
        img = pal[idx]
        assert (decode_gif(encode_gif(img)) == img).all()

    check()


def test_tga_decode_variants():
    """TGA spec fixtures: truecolor 24/32-bit, RLE, 16-bit 5-5-5,
    color-mapped, grayscale, both vertical origins."""
    import struct

    import numpy as np

    from drill_spark.ops.multimodal import decode_tga

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)

    def hdr(img_type, w, h, bpp, desc=0x20, cmap=(0, 0, 0, 0)):
        ct, cf, cl, cb = cmap
        return struct.pack("<BBBHHBHHHHBB", 0, ct, img_type, cf, cl, cb,
                           0, 0, w, h, bpp, desc)

    # type 2 uncompressed BGR, top-left origin
    bgr = img[:, :, ::-1].tobytes()
    assert (decode_tga(hdr(2, 7, 5, 24) + bgr) == img).all()
    # bottom-left origin flips
    flipped = img[::-1].tobytes()[:0] or img[::-1, :, ::-1].tobytes()
    assert (decode_tga(hdr(2, 7, 5, 24, desc=0) + flipped) == img).all()
    # type 10 RLE: constant image compresses to run packets
    const = np.full((4, 6, 3), 200, dtype=np.uint8)
    rle = b""
    for _row in range(4):
        rle += bytes([0x80 | 5]) + bytes([200, 200, 200])  # 6-px run
    assert (decode_tga(hdr(10, 6, 4, 24) + rle) == const).all()
    # 16-bit 5-5-5: pure red
    red = struct.pack("<H", 31 << 10) * 12
    out = decode_tga(hdr(2, 4, 3, 16) + red)
    assert (out[:, :, 0] == 255).all() and (out[:, :, 1:] == 0).all()
    # color-mapped type 1
    pal = bytes([255, 0, 0]) + bytes([0, 0, 255])  # BGR entries: blue, red
    idx = bytes([0, 1, 1, 0])
    out = decode_tga(hdr(1, 2, 2, 8, cmap=(1, 0, 2, 24)) + pal + idx)
    assert tuple(out[0, 0]) == (0, 0, 255) and tuple(out[0, 1]) == (255, 0, 0)
    # grayscale type 3
    g = bytes([0, 128, 255])
    out = decode_tga(hdr(3, 3, 1, 8) + g)
    assert [tuple(p) for p in out[0]] == [(0, 0, 0), (128, 128, 128),
                                          (255, 255, 255)]
    # 16-bit (5-5-5) color map: spec-valid entries expand like pixels
    pal16 = struct.pack("<HH", 31 << 10, 31)  # red, blue
    idx = bytes([0, 1, 1, 0])
    out = decode_tga(hdr(1, 2, 2, 8, cmap=(1, 0, 2, 16)) + pal16 + idx)
    assert tuple(out[0, 0]) == (255, 0, 0) and tuple(out[0, 1]) == (0, 0, 255)
    # 15-bit declared maps still occupy 2 bytes per entry
    out = decode_tga(hdr(1, 2, 2, 8, cmap=(1, 0, 2, 15)) + pal16 + idx)
    assert tuple(out[0, 0]) == (255, 0, 0) and tuple(out[0, 1]) == (0, 0, 255)
    # unsupported entry width raises by name
    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="colormap entry size 8"):
        decode_tga(hdr(1, 2, 2, 8, cmap=(1, 0, 2, 8)) + b"\xff\x00" + idx)


def test_pcx_decode_variants():
    """PCX spec fixtures: 8-bit paletted with the VGA trailer and
    24-bit 3-plane, both RLE-packed per the spec."""
    import struct

    import numpy as np

    from drill_spark.ops.multimodal import decode_pcx

    def header(w, h, bits, planes, stride):
        hd = bytearray(128)
        hd[0] = 0x0A
        hd[1] = 5
        hd[2] = 1  # RLE
        hd[3] = bits
        struct.pack_into("<HHHH", hd, 4, 0, 0, w - 1, h - 1)
        hd[65] = planes
        struct.pack_into("<H", hd, 66, stride)
        return bytes(hd)

    def rle(row: bytes) -> bytes:
        out = bytearray()
        i = 0
        while i < len(row):
            run = 1
            while i + run < len(row) and run < 63 and row[i + run] == row[i]:
                run += 1
            if run > 1 or (row[i] & 0xC0) == 0xC0:
                out += bytes([0xC0 | run, row[i]])
            else:
                out.append(row[i])
            i += run
        return bytes(out)

    # 8-bit paletted
    pal = np.arange(768, dtype=np.uint16) % 256
    pal = pal.astype(np.uint8).reshape(256, 3)
    idx = np.array([[0, 1, 2, 2], [3, 3, 3, 0]], dtype=np.uint8)
    body = b"".join(rle(idx[y].tobytes()) for y in range(2))
    payload = header(4, 2, 8, 1, 4) + body + b"\x0c" + pal.tobytes()
    assert (decode_pcx(payload) == pal[idx]).all()

    # 24-bit: per-row planes R,G,B
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    body = b""
    for y in range(3):
        for p in range(3):
            body += rle(img[y, :, p].tobytes())
    assert (decode_pcx(header(5, 3, 8, 3, 5) + body) == img).all()


def test_pcx_media_dispatch():
    import struct

    import numpy as np

    from drill_spark.ops.multimodal import decode_media, probe_image_header

    hd = bytearray(128)
    hd[0] = 0x0A
    hd[1] = 5
    hd[2] = 0  # uncompressed
    hd[3] = 8
    struct.pack_into("<HHHH", hd, 4, 0, 0, 3, 1)
    hd[65] = 3
    struct.pack_into("<H", hd, 66, 4)
    img = np.full((2, 4, 3), 90, dtype=np.uint8)
    body = b"".join(img[y, :, p].tobytes() for y in range(2) for p in range(3))
    payload = bytes(hd) + body
    assert probe_image_header(payload) == ("pcx", 4, 2)
    got = decode_media(payload)
    assert got["kind"] == "image/pcx"
    assert (got["width"], got["height"], got["mean_val"]) == (4, 2, 90.0)


def test_pnm_decode_all_kinds():
    """NetPBM P1-P6 from the spec: ASCII + binary, comments, maxval
    scaling incl. 16-bit, packed-bit P4 rows."""
    import numpy as np

    from drill_spark.ops.multimodal import decode_pnm

    # P1 ASCII bitmap (1 = black)
    p1 = b"P1\n# comment\n3 2\n0 1 0\n1 0 1\n"
    out = decode_pnm(p1)
    assert out[0, 0, 0] == 255 and out[0, 1, 0] == 0

    # P2 ASCII graymap, maxval 15
    p2 = b"P2 2 2 15\n0 15\n7 15\n"
    out = decode_pnm(p2)
    assert out[0, 1, 0] == 255 and out[1, 0, 0] == 7 * 255 // 15

    # P3 ASCII pixmap
    p3 = b"P3 1 1 255 10 20 30\n"
    assert tuple(decode_pnm(p3)[0, 0]) == (10, 20, 30)

    # P4 packed bits: width 10 -> 2 bytes/row
    p4 = b"P4\n10 1\n" + bytes([0b10100000, 0b01000000])
    out = decode_pnm(p4)
    assert [out[0, x, 0] for x in (0, 1, 2, 8, 9)] == [0, 255, 0, 255, 0]

    # P5 binary graymap 16-bit big-endian
    import struct
    p5 = b"P5 2 1 65535\n" + struct.pack(">HH", 0, 65535)
    out = decode_pnm(p5)
    assert out[0, 0, 0] == 0 and out[0, 1, 0] == 255

    # P6 binary pixmap roundtrip
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    p6 = b"P6\n5 4\n255\n" + img.tobytes()
    assert (decode_pnm(p6) == img).all()


def test_ico_decode_png_and_dib():
    """ICO: PNG-compressed entry and classic 32-bit DIB entry (doubled
    height, bottom-up, BGRA), largest-entry selection."""
    import struct

    import numpy as np

    from drill_spark.ops.multimodal import decode_ico, encode_bmp, decode_png

    # PNG entry via the test chunk builder from the PNG test
    import zlib

    def chunk(typ, data):
        c = typ + data
        return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))

    img = np.full((8, 8, 3), 123, dtype=np.uint8)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(8))
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    ico = (struct.pack("<HHH", 0, 1, 1)
           + struct.pack("<BBBBHHII", 8, 8, 0, 0, 1, 32, len(png), 22) + png)
    assert (decode_ico(ico) == img).all()

    # classic DIB 32-bit: 2x2, bottom-up BGRA + AND mask
    px = np.array([[[255, 0, 0], [0, 255, 0]],
                   [[0, 0, 255], [9, 8, 7]]], dtype=np.uint8)
    rows = b""
    for y in (1, 0):  # bottom-up
        for x in range(2):
            r, g, b_ = px[y, x]
            rows += bytes([b_, g, r, 255])
    mask = b"\x00\x00\x00\x00" * 2
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 4, 1, 32, 0, 0, 0, 0, 0, 0) + rows + mask
    ico2 = (struct.pack("<HHH", 0, 1, 1)
            + struct.pack("<BBBBHHII", 2, 2, 0, 0, 1, 32, len(dib), 22) + dib)
    assert (decode_ico(ico2) == px).all()


def test_wav_float_and_deep_pcm():
    """IEEE-float (tag 3) and 24/32-bit PCM WAVs decode; values match
    the source signal."""
    import struct

    import numpy as np

    from drill_spark.ops.multimodal import decode_wav

    x = np.sin(np.linspace(0, 6.28, 50)).astype("float32") * 0.5

    def wav(tag, bits, data, nch=1, rate=8000):
        fmt = struct.pack("<HHIIHH", tag, nch, rate,
                          rate * nch * bits // 8, nch * bits // 8, bits)
        out = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
               + b"fmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data" + struct.pack("<I", len(data)) + data)
        return out

    y, rate = decode_wav(wav(3, 32, x.astype("<f4").tobytes()))
    assert rate == 8000 and np.abs(y - x).max() < 1e-6

    v24 = (x * 8388607).astype("int32")
    data24 = b"".join(struct.pack("<i", int(v))[:3] for v in v24)
    y, _ = decode_wav(wav(1, 24, data24))
    assert np.abs(y - x).max() < 1e-5

    v32 = (x * 2147483647).astype("<i4")
    y, _ = decode_wav(wav(1, 32, v32.tobytes()))
    assert np.abs(y - x).max() < 1e-6


def test_pnm_ico_dispatch_and_probe():
    from drill_spark.ops.multimodal import decode_media, probe_image_header

    p6 = b"P6\n# c\n5 4\n255\n" + bytes(60)
    assert probe_image_header(p6) == ("pnm", 5, 4)
    got = decode_media(p6)
    assert got["kind"] == "image/pnm" and (got["width"], got["height"]) == (5, 4)

    import struct
    import zlib

    import numpy as np

    def chunk(typ, data):
        c = typ + data
        return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))

    img = np.full((8, 8, 3), 50, dtype=np.uint8)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(8))
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    ico = (struct.pack("<HHH", 0, 1, 1)
           + struct.pack("<BBBBHHII", 8, 8, 0, 0, 1, 32, len(png), 22) + png)
    assert probe_image_header(ico) == ("ico", 8, 8)
    got = decode_media(ico)
    assert got["kind"] == "image/ico" and got["mean_val"] == 50.0


def test_qoi_roundtrip_and_dispatch():
    """QOI codec: hypothesis roundtrip forcing every chunk op (runs,
    small diffs, luma diffs, index hits, literals), plus dispatch."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from drill_spark.ops.multimodal import (
        decode_media,
        decode_qoi,
        encode_qoi,
        probe_image_header,
    )

    # crafted image exercising runs + diffs + index reuse
    img = np.zeros((4, 8, 3), dtype=np.uint8)
    img[0] = [10, 20, 30]                  # run
    img[1] = [11, 21, 31]                  # small diff
    img[2] = [40, 50, 60]                  # literal
    img[3, ::2] = [10, 20, 30]             # index hits
    img[3, 1::2] = [40, 50, 60]
    assert (decode_qoi(encode_qoi(img)) == img).all()

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 16), st.integers(1, 16), st.integers(0, 2**31 - 1),
           st.sampled_from([2, 8, 256]))
    def check(h, w, seed, levels):
        rng = np.random.default_rng(seed)
        im = (rng.integers(0, levels, size=(h, w, 3)) * (255 // (levels - 1) if levels > 1 else 0)).astype(np.uint8)
        assert (decode_qoi(encode_qoi(im)) == im).all()

    check()

    payload = encode_qoi(np.full((3, 5, 3), 77, dtype=np.uint8))
    assert probe_image_header(payload) == ("qoi", 5, 3)
    got = decode_media(payload)
    assert got["kind"] == "image/qoi"
    assert (got["width"], got["height"], got["mean_val"]) == (5, 3, 77.0)


def test_bmp_rle_decode():
    """BI_RLE8 and BI_RLE4 BMPs (spec escapes: EOL, EOB, delta,
    absolute mode with word alignment) against hand-built fixtures."""
    import struct

    import numpy as np

    from drill_spark.ops.multimodal import decode_bmp

    def bmp(w, h, bpp, comp, pal, body):
        n = len(pal)
        pal_bytes = b"".join(bytes([b_, g, r, 0]) for r, g, b_ in pal)
        off = 14 + 40 + len(pal_bytes)
        hdr = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
               + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                             len(body), 0, 0, n, 0))
        return hdr + pal_bytes + body

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]

    # RLE8: row0 = 3x color1, delta skip, EOL; row1 absolute [2,3,0] pad
    body = bytes([3, 1, 0, 0,               # run, EOL
                  0, 3, 2, 3, 0, 0,         # absolute 3 literals + pad
                  0, 1])                    # EOB
    img = decode_bmp(bmp(3, 2, 8, 1, pal, body))
    # bottom-up: body row0 is the BOTTOM row
    assert [tuple(p) for p in img[1]] == [(0, 255, 0)] * 3
    assert [tuple(p) for p in img[0]] == [(0, 0, 255), (9, 9, 9), (255, 0, 0)]

    # RLE4: run of 4 alternating nibbles 1,2 then EOL/EOB
    body4 = bytes([4, 0x12, 0, 0, 0, 1])
    img = decode_bmp(bmp(4, 1, 4, 2, pal, body4))
    assert [tuple(p) for p in img[0]] == [
        (0, 255, 0), (0, 0, 255), (0, 255, 0), (0, 0, 255)]


def test_aiff_and_au_decode():
    """AIFF (80-bit extended-float rate, BE PCM, sowt little-endian
    variant) and Sun AU (mu-law + linear encodings) against spec-built
    fixtures; dispatch through decode_media."""
    import struct

    import numpy as np

    from drill_spark.ops.multimodal import (
        decode_aiff,
        decode_au,
        decode_media,
        mulaw_encode,
    )

    x = (np.sin(np.linspace(0, 12.5, 80)) * 0.4).astype("float32")
    pcm = (x * 32767).astype(">i2")

    def ext80(rate):
        # 80-bit extended float for an integer rate
        e = rate.bit_length() - 1
        mant = rate << (63 - e)
        return struct.pack(">HQ", 16383 + e, mant)

    def aiff(rate, data, form=b"AIFF", comm_extra=b""):
        comm = struct.pack(">HIH", 1, len(data) // 2, 16) + ext80(rate) + comm_extra
        ssnd = struct.pack(">II", 0, 0) + data

        def chunk(cid, payload):  # IFF chunks pad to even length
            return (cid + struct.pack(">I", len(payload)) + payload
                    + (b"\x00" if len(payload) & 1 else b""))

        body = chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
        return b"FORM" + struct.pack(">I", 4 + len(body)) + form + body

    y, rate = decode_aiff(aiff(16000, pcm.tobytes()))
    assert rate == 16000 and np.abs(y - x).max() < 1e-3

    # AIFF-C sowt: little-endian samples
    y, rate = decode_aiff(aiff(8000, (x * 32767).astype("<i2").tobytes(),
                               form=b"AIFC", comm_extra=b"sowt\x04sowt"))
    assert rate == 8000 and np.abs(y - x).max() < 1e-3

    got = decode_media(aiff(16000, pcm.tobytes()))
    assert got["kind"] == "audio/aiff" and got["sample_rate"] == 16000

    # AU: mu-law and 16-bit linear
    mu = bytes(mulaw_encode(int(v * 32767)) for v in x)
    au = b".snd" + struct.pack(">IIIII", 24, len(mu), 1, 8000, 1)
    y, rate = decode_au(au + mu)
    assert rate == 8000 and np.abs(y - x).max() < 0.02  # mu-law quantization

    au16 = b".snd" + struct.pack(">IIIII", 24, len(pcm) * 2, 3, 16000, 1)
    y, rate = decode_au(au16 + pcm.tobytes())
    assert rate == 16000 and np.abs(y - x).max() < 1e-3
    got = decode_media(au16 + pcm.tobytes())
    assert got["kind"] == "audio/basic" and got["n_samples"] == 80


def test_phash_invariance_and_discrimination():
    """DCT pHash kernel (ops/phash.py): stable across a real JPEG
    re-encode and a brightness shift, far from an unrelated image."""
    import numpy as np

    from drill_spark.ops.jpeg import encode_jpeg
    from drill_spark.ops.multimodal import encode_bmp
    from drill_spark.ops.phash import phash64

    y, x = np.mgrid[0:64, 0:64]
    img = np.stack([(x * 4) % 256, (y * 4) % 256, ((x + y) * 2) % 256],
                   axis=2).astype(np.uint8)
    img[10:30, 10:30] = [200, 30, 30]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    h = phash64(encode_bmp(img))
    assert ham(h, phash64(encode_jpeg(img, quality=85))) <= 4
    bright = np.clip(img.astype(int) + 18, 0, 255).astype(np.uint8)
    assert ham(h, phash64(encode_bmp(bright))) <= 4
    rng = np.random.default_rng(3)
    other = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    other[:32] = [255, 255, 0]
    assert ham(h, phash64(encode_bmp(other))) >= 16


def test_phash_near_dupes_banding(spark):
    """phash_near_dupes finds exactly the planted duplicate groups via
    the banded bucket join (no all-pairs), and skips corrupt payloads
    instead of failing the job."""
    import numpy as np
    import pandas as pd

    from drill_spark.ops.multimodal import encode_bmp
    from drill_spark.ops.phash import phash_near_dupes

    rows = []
    for g in range(3):
        y, x = np.mgrid[0:48, 0:48]
        img = np.stack([(x * 5 + g * 61) % 256, (y * 5 + g * 43) % 256,
                        ((x + y) * 3 + g * 29) % 256], axis=2).astype(np.uint8)
        img[5 + g * 9:20 + g * 9, 8:30] = [(g * 83) % 256, 200, 40]
        rows.append((g * 10, encode_bmp(img)))
        shifted = np.clip(img.astype(int) + 12, 0, 255).astype(np.uint8)
        rows.append((g * 10 + 1, encode_bmp(shifted)))
    rows.append((99, b"not an image at all"))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    got = {(r.id_a, r.id_b)
           for r in phash_near_dupes(df, max_hamming=8).collect()}
    assert got == {(0, 1), (10, 11), (20, 21)}


def test_phash_hot_bucket_cap(spark):
    """A constant-color corpus (every image hashes identically, so all
    rows land in ONE (band, band_bits) bucket per band) is capped at
    max_bucket before the self-join — candidate pairs stay <=
    C(max_bucket, 2) per band instead of going quadratic in corpus
    size (ops/phash.py hot-bucket cap, ported from videofp/audiofp)."""
    import numpy as np
    import pandas as pd

    from drill_spark.ops.multimodal import encode_bmp
    from drill_spark.ops.phash import phash_near_dupes

    blank = encode_bmp(np.zeros((32, 32, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        pd.DataFrame([(i, blank) for i in range(12)],
                     columns=["doc_id", "payload"]))
    capped = {(r.id_a, r.id_b)
              for r in phash_near_dupes(df, max_bucket=4).collect()}
    # identical hashes -> identical per-band bucket order, so the same
    # 4 docs survive every band: exactly C(4,2) pairs, not C(12,2)
    assert capped == {(a, b) for a in range(4) for b in range(4) if a < b}
    full = {(r.id_a, r.id_b)
            for r in phash_near_dupes(df, max_bucket=1024).collect()}
    assert len(full) == 66


def test_audio_frame_hashes_bit_identical_to_loop():
    """The vectorized fingerprint kernel (strided frame matrix -> one
    batched rfft -> per-band pairwise sums) is BIT-identical to the
    per-frame scalar loop it replaced — same FFT per row, same
    summation order, same subtraction order, same bit packing."""
    import numpy as np

    from drill_spark.ops.audiofp import frame_hashes

    def loop_reference(samples, sample_rate, frame=2048, hop=1024,
                       n_bands=17):
        x = np.asarray(samples, dtype=np.float64)
        if len(x) < frame:
            return []
        win = np.hanning(frame)
        f_lo, f_hi = 300.0, min(3000.0, 0.9 * sample_rate / 2)
        edges = np.geomspace(f_lo, f_hi, n_bands + 1)
        bins = np.clip((edges * frame / sample_rate).astype(int),
                       1, frame // 2 - 1)
        n_frames = 1 + (len(x) - frame) // hop
        energies = np.empty((n_frames, n_bands))
        for t in range(n_frames):
            spec = np.abs(np.fft.rfft(x[t * hop: t * hop + frame] * win)) ** 2
            for b in range(n_bands):
                lo, hi = bins[b], max(bins[b + 1], bins[b] + 1)
                energies[t, b] = spec[lo:hi].sum()
        out = []
        for t in range(1, n_frames):
            bits = 0
            for b in range(n_bands - 1):
                d = (energies[t, b] - energies[t, b + 1]
                     - (energies[t - 1, b] - energies[t - 1, b + 1]))
                bits = (bits << 1) | (1 if d > 0 else 0)
            out.append(bits)
        return out

    rng = np.random.default_rng(11)
    rate = 8000
    t = np.arange(rate * 2) / rate
    for sig in [
        0.4 * np.sin(2 * np.pi * (400 + 80 * np.sin(2 * np.pi * 0.7 * t)) * t)
        + 0.2 * np.sin(2 * np.pi * 900 * t),
        rng.standard_normal(rate * 2) * 0.1,
        np.zeros(rate),  # silence: near-zero band diffs, sign-critical
    ]:
        assert frame_hashes(sig, rate) == loop_reference(sig, rate)


def test_winnow_guarantee_property():
    """Winnowing guarantee (Schleimer et al. 2003): any common
    substring of length >= k + window - 1 shares at least one selected
    fingerprint — fingerprint equality is a COMPLETE candidate
    generator at the guarantee length."""
    import random

    from drill_spark.ops.winnow import winnow_fingerprints

    rng = random.Random(7)
    k, w = 8, 4
    for _ in range(100):
        common = "".join(rng.choice("abcdefgh ")
                         for _ in range(k + w - 1 + rng.randrange(40)))
        a = ("".join(rng.choice("xyzuvw") for _ in range(rng.randrange(60)))
             + common
             + "".join(rng.choice("qrstu") for _ in range(rng.randrange(60))))
        b = ("".join(rng.choice("mnopq") for _ in range(rng.randrange(60)))
             + common
             + "".join(rng.choice("jklmn") for _ in range(rng.randrange(60))))
        fa = {h for h, _ in winnow_fingerprints(a, k, w)}
        fb = {h for h, _ in winnow_fingerprints(b, k, w)}
        assert fa & fb


def test_substring_dup_spans(spark):
    """Exact-substring dedup: planted verbatim passages are found with
    their exact maximal spans; unrelated docs produce nothing."""
    from drill_spark.ops.winnow import substring_dup_spans

    passage = ("All happy training corpora are alike; every duplicated "
               "passage is duplicated in its own way.")
    rows = [
        (1, "intro text AAA. " + passage + " outro one."),
        (2, "totally different lead. " + passage + " and a different tail."),
        (3, "no shared content here at all, just original words only."),
        (4, "another fully original document about unrelated topics."),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = substring_dup_spans(df, min_len=40).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert pairs == {(1, 2)}
    r = max(got, key=lambda r: r.span_len)
    a_text, b_text = rows[0][1], rows[1][1]
    assert a_text[r.pos_a:r.pos_a + r.span_len] == \
        b_text[r.pos_b:r.pos_b + r.span_len]
    # the maximal span contains the planted passage (plus the shared
    # ' ' boundary chars that extend it)
    assert passage in a_text[r.pos_a:r.pos_a + r.span_len]


def test_substring_dup_spans_hot_bucket_cap(spark):
    """A fingerprint shared by every document is capped per bucket —
    candidate pairs stay bounded instead of going quadratic."""
    from drill_spark.ops.winnow import fingerprint_docs, substring_dup_spans

    boiler = "this exact same boilerplate license header text appears everywhere"
    rows = [(i, f"doc {i} unique part {'x' * (i % 5)} " + boiler)
            for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = substring_dup_spans(df, min_len=40, max_bucket=4).collect()
    # capped: strictly fewer than the 66 all-pairs (each fingerprint
    # bucket admits at most C(4,2) pairs), but the passage is found
    pairs = {(r.id_a, r.id_b) for r in got}
    assert 0 < len(pairs) < 66
    # uncapped finds every pair
    full = {(r.id_a, r.id_b)
            for r in substring_dup_spans(df, min_len=40,
                                         max_bucket=1000).collect()}
    assert len(full) == 66


def test_winnow_anchor_cap_long_identical_docs(spark):
    """Worst case for the per-pair anchor list: two long IDENTICAL
    documents share ~len/window anchors in one span. The max_anchors
    cap bounds the collect_list row, and the full maximal span is
    still recovered (any surviving anchor re-derives it via
    _extend_span)."""
    import random

    from drill_spark.ops.winnow import substring_dup_spans

    rng = random.Random(13)
    long_text = " ".join(
        "".join(rng.choice("abcdefghij") for _ in range(rng.randrange(3, 9)))
        for _ in range(600))
    rows = [(1, long_text), (2, long_text)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = substring_dup_spans(df, min_len=40, max_anchors=8).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert (r.pos_a, r.pos_b) == (0, 0)
    assert r.span_len == len(long_text)


def test_phash_tiny_images():
    """Images smaller than the 32x32 resample target hash without
    error (clamped bins repeat pixels)."""
    import numpy as np

    from drill_spark.ops.multimodal import encode_bmp
    from drill_spark.ops.phash import phash64

    for shape in [(1, 1, 3), (3, 4, 3), (2, 40, 3), (40, 2, 3)]:
        assert isinstance(phash64(encode_bmp(
            np.full(shape, 128, dtype=np.uint8))), int)


def test_audio_fingerprint_kernel():
    """Haitsma-Kalker frame hashes: exact gain invariance, hop-exact
    trim alignment, near-zero cross-signal collisions."""
    import numpy as np

    from drill_spark.ops.audiofp import frame_hashes

    rate = 8000
    t = np.arange(rate * 3) / rate
    sig = (0.4 * np.sin(2 * np.pi * (400 + 80 * np.sin(2 * np.pi * 0.7 * t)) * t)
           + 0.2 * np.sin(2 * np.pi * 900 * t))
    h = frame_hashes(sig, rate)
    assert frame_hashes(0.5 * sig, rate) == h  # gain invariance
    h_trim = frame_hashes(sig[1024 * 3:], rate)
    assert sum(a == b for a, b in zip(h[3:], h_trim)) >= len(h_trim) - 1
    other = 0.4 * np.sin(2 * np.pi * (1500 + 300 * np.sin(2 * np.pi * 1.3 * t)) * t)
    assert sum(a == b for a, b in zip(h, frame_hashes(other, rate))) < len(h) * 0.2


def test_audio_near_dupes_cross_container(spark):
    """audio_near_dupes finds copies across CONTAINERS (WAV vs FLAC of
    the same signal, through the real codecs) and reports the trim
    offset; unrelated audio yields no pair."""
    import numpy as np
    import pandas as pd

    from drill_spark.ops.audiofp import audio_near_dupes
    from drill_spark.ops.flac import encode_flac
    from drill_spark.ops.multimodal import encode_wav

    rate = 8000
    t = np.arange(rate * 3) / rate
    sig = (0.3 * np.sin(2 * np.pi * 520 * t)
           + 0.18 * np.sin(2 * np.pi * 930 * t * (1 + 0.05 * np.sin(2 * np.pi * 0.5 * t))))
    pcm = (sig * 8000).astype("int32")
    other = 0.3 * np.sin(2 * np.pi * (1700 + 200 * np.sin(2 * np.pi * 1.1 * t)) * t)
    rows = [
        # WAV whose int16 samples are EXACTLY 4x the FLAC's (gain
        # invariance covers the factor; proportional samples keep the
        # hashes identical across the two containers)
        (1, encode_wav(pcm * 4 / 32767.0, rate)),
        (2, encode_flac(pcm, rate, bits=16)),     # FLAC, same signal
        (3, encode_flac(pcm[2048:], rate, bits=16)),  # trimmed copy
        (4, encode_wav(other, rate)),             # unrelated
        (5, b"not audio"),                        # skipped, not fatal
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    got = {(r.id_a, r.id_b): (r.offset, r.n_matches)
           for r in audio_near_dupes(df, min_matches=8).collect()}
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(2, 3)][0] == -2  # the trim shows up as the modal offset
    assert got[(1, 2)][0] == 0


def test_video_near_dupes(spark):
    """Video dedup (ops/videofp.py): a raw AVI, its MJPG re-encode and
    a 2-frame-trimmed copy all pair with the right offsets; an
    unrelated clip does not."""
    import numpy as np
    import pandas as pd

    from drill_spark.ops.video import encode_avi
    from drill_spark.ops.videofp import video_near_dupes

    rng = np.random.default_rng(11)

    def clip(seed, n=8):
        frames = []
        y, x = np.mgrid[0:48, 0:48]
        for t in range(n):
            img = np.stack([
                (x * 5 + seed * 61 + t * 9) % 256,
                (y * 5 + seed * 43) % 256,
                ((x + y) * 3 + seed * 29) % 256,
            ], axis=2).astype(np.uint8)
            img[6 + t * 3: 20 + t * 3, 8:30] = [(seed * 83) % 256, 200, 40]
            frames.append(img)
        return frames

    base = clip(1)
    rows = [
        (1, encode_avi(base, fps=5, codec="raw")),
        (2, encode_avi(base, fps=5, codec="mjpg")),     # lossy re-encode
        (3, encode_avi(base[2:], fps=5, codec="raw")),  # trimmed copy
        (4, encode_avi(clip(7), fps=5, codec="raw")),   # unrelated
        (5, b"not a video"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    got = {(r.id_a, r.id_b): (r.offset, r.n_matches)
           for r in video_near_dupes(df, min_matches=3).collect()}
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)][0] == 0
    assert got[(1, 3)][0] == -2  # the trim


def test_quality_classifier_accuracy(spark):
    """ops/classifier.py: the hashed-ngram logistic pipeline separates
    planted vocabularies with >= 95% holdout accuracy, and the filter
    keeps the reference class."""
    import random

    from drill_spark.ops.classifier import (
        classifier_filter, score_text, train_text_classifier,
    )

    rng = random.Random(3)
    good = "theorem lemma manifold integral polynomial derivative".split()
    bad = "click buy cheap winner casino offer".split()
    rows = []
    for _ in range(300):
        rows.append((" ".join(rng.choice(good) for _ in range(20)), 1.0))
        rows.append((" ".join(rng.choice(bad) for _ in range(20)), 0.0))
    df = spark.createDataFrame(rows, "text string, label double")
    train, test = df.randomSplit([0.8, 0.2], seed=7)
    model = train_text_classifier(train, n_features=1 << 12, max_iter=10)
    scored = score_text(test, model)
    acc = scored.selectExpr(
        "avg(cast((quality_score >= 0.5) = (label = 1.0) as double)) a"
    ).collect()[0].a
    assert acc >= 0.95
    kept = classifier_filter(test, model)
    n_good = test.where("label = 1.0").count()
    assert kept.where("label = 1.0").count() >= 0.9 * n_good
    assert "quality_score" in kept.columns and "_features" not in kept.columns


def test_incremental_dedup_batches_and_replay(spark, tmp_path):
    """Cross-run dedup against the Delta digest store: three batches
    with overlaps — each batch's survivors are exactly the docs whose
    digest no prior batch committed (lowest id within batch); replaying
    a committed batch_id returns its ORIGINAL survivors via the
    (h, batch_id) store rows and does NOT grow the store (the Delta txn
    action makes the append exactly-once)."""
    from drill_spark.ops.dedup import incremental_dedup
    from drill_spark.readers.delta import read_delta

    store = str(tmp_path / "digests")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    b1 = batch([(1, "alpha text"), (2, "beta text")])
    b2 = batch([(3, "beta  TEXT"), (4, "gamma text"), (5, "gamma text")])
    b3 = batch([(6, "alpha text"), (7, "gamma text"), (8, "delta text")])

    s1 = sorted(r.doc_id for r in incremental_dedup(b1, store).collect())
    assert s1 == [1, 2]
    # b2: doc 3 normalizes to b1's "beta text"; 4/5 share a digest
    s2 = sorted(r.doc_id for r in incremental_dedup(b2, store).collect())
    assert s2 == [4]
    s3 = sorted(r.doc_id for r in incremental_dedup(b3, store).collect())
    assert s3 == [8]
    stored = read_delta(spark, store)
    assert stored.count() == 4  # alpha, beta, gamma, delta — once each
    assert sorted(set(r.batch_id for r in stored.collect())) == [0, 1, 2]

    # replay batch 1 (same data, same batch_id): original survivors
    # return, store unchanged
    r2 = sorted(r.doc_id for r in
                incremental_dedup(b2, store, batch_id=1).collect())
    assert r2 == [4]
    assert read_delta(spark, store).count() == 4


@pytest.mark.parametrize("op", ["incremental_dedup", "incremental_near_dedup"])
def test_incremental_dedup_skipped_batch_raises(spark, tmp_path, op):
    """Batches 0 and 2 committed, then batch 1 submitted: it was never
    committed, so it must raise instead of replaying as the store's
    (empty) batch-1 rows and dropping every document; committed ids
    still replay and the store does not grow."""
    from drill_spark.ops import dedup
    from drill_spark.readers.delta import read_delta

    run = getattr(dedup, op)
    store = str(tmp_path / "store")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    b0 = batch([(1, "alpha beta gamma delta epsilon zeta eta theta")])
    b2 = batch([(2, "one two three four five six seven eight nine")])
    b1 = batch([(3, "red green blue cyan magenta yellow black white")])
    assert [r.doc_id for r in run(b0, store, batch_id=0).collect()] == [1]
    assert [r.doc_id for r in run(b2, store, batch_id=2).collect()] == [2]
    n_rows = read_delta(spark, store).count()

    with pytest.raises(ValueError, match="never committed"):
        run(b1, store, batch_id=1)
    assert [r.doc_id for r in run(b2, store, batch_id=2).collect()] == [2]
    assert read_delta(spark, store).count() == n_rows


def test_remove_dup_spans_merging_and_passthrough(spark):
    """Apply-side of exact-substring dedup: overlapping spans on one
    doc merge via cursor clamping (each char removed once), docs with
    several partners cut each duplicated region once, and span-free
    docs pass through byte-identical with removed_chars = 0."""
    from pyspark.sql import functions as F

    from drill_spark.ops.winnow import remove_dup_spans

    df = spark.createDataFrame(
        [(1, "AAA shared passage here BBB"),
         (2, "xxx shared passage here yyy"),
         (3, "untouched document three")],
        "doc_id bigint, text string")
    spans = spark.createDataFrame(
        # doc 2 duplicated against TWO partners with overlapping spans
        [(1, 2, 4, 4, 10), (0, 2, 8, 8, 15)],
        "id_a bigint, id_b bigint, pos_a bigint, pos_b bigint, span_len bigint")
    got = {r.doc_id: (r.text, r.removed_chars)
           for r in remove_dup_spans(df, spans).collect()}
    assert got[2] == ("xxx  yyy", 19)          # merged cut [4, 23)
    assert got[1] == ("AAA shared passage here BBB", 0)
    assert got[3] == ("untouched document three", 0)

    # spans at text boundaries: cut at 0 and cut to the end
    df2 = spark.createDataFrame([(7, "abcdefgh")], "doc_id bigint, text string")
    spans2 = spark.createDataFrame(
        [(1, 7, 0, 0, 3), (1, 7, 6, 6, 2)],
        "id_a bigint, id_b bigint, pos_a bigint, pos_b bigint, span_len bigint")
    r = remove_dup_spans(df2, spans2).collect()[0]
    assert (r.text, r.removed_chars) == ("def", 5)


def test_connected_components_driver_and_distributed_agree(spark):
    """The threshold-gated union-find fast path and the distributed
    min-label iteration produce the IDENTICAL (node, component)
    labeling (component = min node id) on random graphs, including
    chains deeper than one propagation round."""
    import random

    from drill_spark.ops.dedup import connected_components

    rng = random.Random(31)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(150)]
    edges += [(i, i + 1) for i in range(300, 312)]  # a 13-node chain
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    fast = sorted(
        (r.node, r.component)
        for r in connected_components(df).collect())
    slow = sorted(
        (r.node, r.component)
        for r in connected_components(df, driver_max_edges=0).collect())
    assert fast == slow and len(fast) > 0


def test_incremental_near_dedup_batches_and_replay(spark, tmp_path):
    """Cross-run NEAR-dup dedup against the persistent MinHash store:
    batch 0 commits originals; batch 1's light edit of a committed doc
    drops (signature agreement over threshold), its novel doc survives,
    and a within-batch near-pair keeps only the lower id. Replaying a
    committed batch returns its original survivors without growing the
    store (Delta txn idempotence)."""
    from drill_spark.ops.dedup import incremental_near_dedup
    from drill_spark.readers.delta import read_delta

    store = str(tmp_path / "nearstore")
    base = ("the quick brown fox jumps over the lazy dog while seventy "
            "bright students read long books about distributed systems "
            "and query engines every single evening")
    other = ("completely different content about marine biology coral "
             "reefs ocean currents and the migration patterns of large "
             "whales across hemispheres during warm seasons")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    b0 = batch([(1, base), (2, other)])
    s0 = sorted(r.doc_id for r in incremental_near_dedup(b0, store, sim_threshold=0.6).collect())
    assert s0 == [1, 2]

    edited = base.replace("lazy", "sleepy")         # near-copy of doc 1
    novel = ("a fresh unrelated essay on medieval architecture featuring "
             "cathedrals buttresses stained glass and the masons who cut "
             "stone for generations in small guild towns")
    novel_edit = novel.replace("glass", "windows")  # near-copy of doc 5
    b1 = batch([(3, edited), (5, novel), (6, novel_edit)])
    s1 = sorted(r.doc_id for r in incremental_near_dedup(b1, store, sim_threshold=0.6).collect())
    assert s1 == [5]  # 3 matches store, 6 loses to 5 within the batch

    # replay: original survivors, no store growth
    n_rows = read_delta(spark, store).count()
    r1 = sorted(r.doc_id for r in
                incremental_near_dedup(b1, store, batch_id=1, sim_threshold=0.6).collect())
    assert r1 == [5]
    assert read_delta(spark, store).count() == n_rows
    # store carries one row per band per surviving doc
    assert n_rows == 3 * 8


def test_event_paths_semantics(spark):
    """Paths respect session boundaries, event order, and the
    max_steps truncation; counts aggregate identical journeys."""
    import datetime as dt

    from drill_spark.ops.temporal import event_paths

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, mins, typ):
        return (i, t0 + dt.timedelta(minutes=mins), user, typ)

    rows = [
        ev(0, 1, 0, "view"), ev(1, 1, 1, "click"), ev(2, 1, 2, "buy"),
        # same user, new session after a 2h gap
        ev(3, 1, 130, "view"), ev(4, 1, 131, "click"), ev(5, 1, 132, "buy"),
        # another user, same journey
        ev(6, 2, 0, "view"), ev(7, 2, 1, "click"), ev(8, 2, 2, "buy"),
        # short journey
        ev(9, 3, 0, "view"),
        # long journey truncated at max_steps=3
        ev(10, 4, 0, "a"), ev(11, 4, 1, "b"), ev(12, 4, 2, "c"),
        ev(13, 4, 3, "d"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {r.path: r.n_sessions
           for r in event_paths(df, "ts", "user_id", "event_type",
                                gap_seconds=3600.0, max_steps=3,
                                order_col="event_id").collect()}
    assert got == {"view > click > buy": 3, "view": 1, "a > b > c": 1}


def test_event_transitions_semantics(spark):
    """Transitions never cross session boundaries; shares normalize
    per from-event."""
    import datetime as dt

    from drill_spark.ops.temporal import event_transitions

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, mins, typ):
        return (i, t0 + dt.timedelta(minutes=mins), user, typ)

    rows = [
        ev(0, 1, 0, "view"), ev(1, 1, 1, "click"), ev(2, 1, 2, "buy"),
        # 2h gap: "buy -> view" must NOT appear as a transition
        ev(3, 1, 130, "view"), ev(4, 1, 131, "click"),
        ev(5, 2, 0, "view"), ev(6, 2, 1, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {(r.from_event, r.to_event): (r.n, r.share)
           for r in event_transitions(df, "ts", "user_id", "event_type",
                                      gap_seconds=3600.0,
                                      order_col="event_id").collect()}
    assert got == {
        ("view", "click"): (2, 0.6667),
        ("view", "view"): (1, 0.3333),
        ("click", "buy"): (1, 1.0),
    }
    assert ("buy", "view") not in got


def test_phrase_and_window_search_shapes(spark):
    """phrase_search/window_cooccur semantics on planted fixtures plus
    the scale contract: both are single-scan per-row HOFs — zero
    shuffles, zero joins, no Python."""
    from drill_spark import plans
    from drill_spark.ops.search import phrase_search, window_cooccur

    df = local_frame(spark, [
        (1, "alpha beta gamma alpha beta delta"),
        (2, "beta alpha nothing here"),
        (3, "alpha beta"),
        (4, "alpha"),                      # shorter than the phrase
        (5, ""),
    ], "doc_id long, text string")
    got = {r.doc_id: (r.n_hits, r.first_pos)
           for r in phrase_search(df, "alpha beta").collect()}
    assert got == {1: (2, 1), 3: (1, 1)}

    win = {r.doc_id: r.n_windows
           for r in window_cooccur(df, ["alpha", "delta"],
                                   window=4).collect()}
    assert win == {1: 1}
    # both terms must be present: doc 2 has alpha but no delta
    assert 2 not in win

    for q in (phrase_search(df, "alpha beta"),
              window_cooccur(df, ["alpha", "delta"], window=4)):
        rep = plans.explain_report(q)
        assert rep["shuffles"] == 0 and not rep["python_eval"], rep
        assert not rep["joins"], rep

    import pytest as _pt
    with _pt.raises(ValueError):
        phrase_search(df, "   ")
    with _pt.raises(ValueError):
        window_cooccur(df, ["a", "b", "c"], window=2)


def _window_cooccur_replay(rows, terms, window):
    """{id: n_windows} by a full scan of every window start: tokens are
    the space-trimmed, lowercased text split on ASCII whitespace; a
    document shorter than the window is one window."""
    import re

    qs = [t.lower() for t in terms]
    out = {}
    for i, text in rows:
        if text is None:
            continue
        w = [t for t in re.split(r"[ \t\n\x0b\f\r]+",
                                 text.lower().strip(" ")) if t]
        n = sum(all(q in w[s:s + window] for q in qs)
                for s in range(max(len(w) - window + 1, 1)))
        if n:
            out[i] = n
    return out


def test_window_cooccur_edge_docs_match_replay(spark):
    """n_windows equals a full-scan Python replay on fixture documents
    and planted edges: both-terms/one-term/empty/whitespace/NULL/short
    docs, windows exactly at the boundary and one past it, multi-term
    queries, and terms carrying a quote or a backslash (literal
    escaping). Hand-computed counts pin the replay itself."""
    from drill_spark.ops.search import window_cooccur
    from drill_spark.session import load_fixture

    rows = [
        (1, "alpha beta gamma alpha beta delta"),
        (2, "beta alpha nothing here"),
        (3, "alpha beta"),
        (4, "alpha"),
        (5, ""),
        (6, "alpha x x x x x x x x delta"),       # exactly window 10
        (7, "alpha x x x x x x x x x delta"),     # one past it
        (8, "delta alpha delta alpha delta"),     # many overlapping
        (9, "it's a quote ' and a back\\slash alpha delta"),
        (10, None),
        (11, "  \t "),
        (12, "Delta\tALPHA"),                     # case + tab separator
    ]
    edge = spark.createDataFrame(rows, "doc_id long, text string")
    docs = load_fixture(spark, SF_DIR, "documents")
    doc_rows = [(r.doc_id, r.text)
                for r in docs.select("doc_id", "text").collect()]
    cases = [
        (edge, rows, ["alpha", "delta"], 4),
        (edge, rows, ["alpha", "delta"], 10),
        (edge, rows, ["alpha", "beta", "delta"], 6),
        (edge, rows, ["'", "alpha"], 10),
        (edge, rows, ["back\\slash", "quote"], 10),
        (docs, doc_rows, ["vector", "small"], 12),
    ]
    got = {}
    for df, src, terms, win in cases:
        got[tuple(terms), win] = {
            r.doc_id: r.n_windows
            for r in window_cooccur(df, terms, window=win).collect()}
        assert got[tuple(terms), win] == _window_cooccur_replay(
            src, terms, win), (terms, win)
    assert got[("alpha", "delta"), 10] == {1: 1, 6: 1, 8: 1, 9: 1, 12: 1}
    assert got[("alpha", "delta"), 4] == {1: 1, 8: 2, 9: 1, 12: 1}
    assert got[("'", "alpha"), 10] == {9: 1}
    assert got[("back\\slash", "quote"), 10] == {9: 1}
    assert got[("vector", "small"), 12], "fixture query must match docs"
    schema = window_cooccur(edge, ["alpha", "delta"], window=10).schema
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
        ("doc_id", "bigint"), ("n_windows", "bigint")]


def test_collocations_lift_replay(spark):
    """Lift equals the exact-count definition on a planted corpus
    where one pair is a true collocation and a frequent-but-random
    pair is not; the plan keeps the corpus to one shuffle with
    broadcast vocabulary joins."""
    from drill_spark import plans
    from drill_spark.ops.text import collocations

    rows = []
    # "new york" always adjacent (strong lift); "the" everywhere
    for i in range(60):
        rows.append((i, "the city of new york is the place the best"))
    df = local_frame(spark, rows, "doc_id long, text string")
    got = collocations(df, min_count=5, top_k=10).collect()
    by_pair = {(r.a, r.b): (r.n_pair, r.lift) for r in got}
    assert ("new", "york") in by_pair
    # replay lift for (new, york): n_pair=60, na=nb=60, tu=600, tp=540
    import math
    exp = math.floor(60.0 * 600 / 60 / 60 * 600 / 540 * 1e4) / 1e4
    assert by_pair[("new", "york")] == (60, exp)
    # 'the best' (adjacent, frequent) must score far lower than
    # 'new york' because 'the' is everywhere
    if ("the", "best") in by_pair:
        assert by_pair[("the", "best")][1] < by_pair[("new", "york")][1]

    rep = plans.explain_report(collocations(df, min_count=5, top_k=10))
    assert not rep["python_eval"]
    assert rep["joins"].get("BroadcastHashJoin", 0) >= 2, rep


def test_materialize_once_keys_by_builder_code(tmp_path, monkeypatch):
    """Two different builders on the same sf_dir get different fixture
    directories, so a changed builder never reuses an older build; the
    same builder reuses its directory without building again, and a
    build removes the other version's fixture (and one under the
    code-less tag) for the same sf_dir and kind, not other fixtures."""
    import hashlib
    import os
    import tempfile

    from drill_spark.extops import _materialize_once

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    built = []

    def build_a(d):
        built.append("a")
        os.makedirs(d)
        open(os.path.join(d, "v"), "w").write("a")

    def build_b(d):
        built.append("b")
        os.makedirs(d)
        open(os.path.join(d, "v"), "w").write("b")

    sf = str(tmp_path / "sf")
    sf_tag = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:12]
    legacy = tmp_path / f"drill_spark_probe_{sf_tag}"
    other_kind = tmp_path / f"drill_spark_probe2_{sf_tag}"
    legacy.mkdir()
    other_kind.mkdir()
    da = _materialize_once(sf, "probe", build_a)
    assert open(os.path.join(da, "v")).read() == "a"
    assert not legacy.exists() and other_kind.exists()
    assert _materialize_once(sf, "probe", build_a) == da
    db = _materialize_once(sf, "probe", build_b)
    assert da != db
    assert open(os.path.join(db, "v")).read() == "b"
    assert not os.path.exists(da)
    assert _materialize_once(sf, "probe", build_b) == db
    assert built == ["a", "b"]
