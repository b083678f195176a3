"""Training-data ops: dedup, similarity, text analysis, multimodal plumbing."""

import hashlib

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# --- textstats ------------------------------------------------------------


def test_token_counts(spark):
    from marky_spark.ops.textstats import token_counts

    df = spark.createDataFrame(
        [(1, "hello world, x2!")], "doc_id long, text string"
    )
    row = token_counts(df).collect()[0]
    assert row["ws_tokens"] == 3
    # BPE-ish: hello | world | , | x | 2 | !
    assert row["re_tokens"] == 6
    assert row["n_chars"] == 16


def test_lang_id_votes(spark):
    from marky_spark.ops.textstats import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of it"),
            (2, "el perro y la casa de que"),
            (3, "qqq zzz www"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "und"}


def test_fingerprint_normalizes_whitespace_and_case(spark):
    from marky_spark.ops.textstats import fingerprint

    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world ")],
        "doc_id long, text string",
    )
    fps = [r["fingerprint"] for r in fingerprint(df).collect()]
    assert fps[0] == fps[1] == hashlib.md5(b"hello world").hexdigest()


def test_simhash_matches_pure_python_and_locality(spark):
    from marky_spark.ops.textstats import simhash64

    base = "the quick brown fox jumps over the lazy dog " * 4
    near = base.replace("lazy", "sleepy")
    far = "completely different words entirely unrelated content here now"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    assert got[1] == got[2]  # identical text → identical signature

    def ref_simhash(text):
        votes = [0] * 64
        for t in text.split():
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if votes[b] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    assert got[1] == ref_simhash(base)

    ham_near = bin((got[1] ^ got[3]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((got[1] ^ got[4]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far  # locality


def test_quality_scores_ordering(spark):
    from marky_spark.ops.textstats import quality_scores

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is fine"),
         (2, "!!! ,,, ... ;;; :::")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["quality_score_bp"]
           for r in quality_scores(df).collect()}
    assert got[1] > got[2]
    assert got[2] == 0


# --- dedup ------------------------------------------------------------------


def test_exact_dupes(spark):
    from marky_spark.ops.dedup import exact_dupes

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    got = {r["text_hash"]: (r["n_dupes"], r["keeper_doc_id"])
           for r in exact_dupes(df).collect()}
    assert (2, 1) in got.values()
    assert (1, 3) in got.values()


def test_minhash_lsh_finds_near_dupes(spark):
    from marky_spark.ops.dedup import minhash_dupes

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("sigma", "sygma")  # ~2 shingles differ out of 18
    rows = [(1, base), (2, near), (3, "totally unrelated words here"),
            (4, "more disjoint content again entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard_ppm"]
             for r in minhash_dupes(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > 500_000
    assert all(p == (1, 2) for p in pairs)  # no false positives


def test_minhash_bucket_cap_bounds_degenerate_buckets(spark):
    """Template-boilerplate corpus: N docs share every LSH band (identical
    text except a unique trailing token that never wins a min-hash), which
    exact-dedup does NOT remove. Uncapped, one bucket would expand to
    N*(N-1)/2 pairs; the cap drops the mega bucket, counts the drop in
    drop_stats, and minhash_dupes still completes."""
    from marky_spark.ops.dedup import minhash_candidate_pairs, minhash_dupes

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    n = 80
    rows = [(i, f"{base} uniq{i:04d}") for i in range(n)]
    rows += [(n, "totally unrelated words here"),
             (n + 1, "totally unrelated words here junk")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # uncapped baseline: the template cluster is all-pairs
    uncapped = minhash_candidate_pairs(df, max_bucket=None).count()
    assert uncapped >= n * (n - 1) // 2

    stats: dict = {}
    capped = minhash_candidate_pairs(df, max_bucket=16, drop_stats=stats)
    n_capped = capped.count()
    assert stats["n_dropped_buckets"] >= 1
    assert stats["n_dropped_ids"] >= n
    assert n_capped < uncapped  # mega-bucket pairs gone...
    # ...but small genuine buckets survive the cap
    small = {(r["doc_a"], r["doc_b"]) for r in
             minhash_dupes(df.where(F.col("doc_id") >= n),
                           threshold=0.5, max_bucket=16).collect()}
    assert (n, n + 1) in small


def test_simhash_dupes(spark):
    from marky_spark.ops.dedup import simhash_dupes

    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [(1, base), (2, base + "tail"), (3, "unrelated different corpus")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = [(r["doc_a"], r["doc_b"]) for r in
             simhash_dupes(df, max_hamming=8).collect()]
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embedding_dupes(spark, emb):
    from marky_spark.ops.dedup import embedding_dupes

    # plant an exact duplicate of vec 0 with a new id
    dup = emb.where(F.col("vec_id") == 0).withColumn("vec_id", F.lit(9999))
    df = emb.unionByName(dup)
    pairs = {(r["vec_a"], r["vec_b"]): r["cosine"]
             for r in embedding_dupes(df, threshold=0.999).collect()}
    assert pairs.get((0, 9999)) == pytest.approx(1.0, abs=1e-6)


# --- similarity --------------------------------------------------------------


def test_brute_force_topk_self_first(spark, emb):
    from marky_spark.ops.similarity import brute_force_topk

    q = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = brute_force_topk(emb, list(q), k=5).collect()
    assert top[0]["vec_id"] == 0
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ann_topk_recall(spark, emb):
    from marky_spark.ops.similarity import ann_topk, brute_force_topk

    q = list(emb.where(F.col("vec_id") == 0).collect()[0]["embedding"])
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in
              ann_topk(emb, q, k=10, n_planes=4).collect()}
    recall = len(exact & approx) / 10
    assert 0 in approx  # the query vector itself is always found
    assert recall >= 0.3, f"recall {recall}"


# --- multimodal --------------------------------------------------------------


def _media_df(spark):
    rows = [
        ("m1", "image/png", bytearray(b"PNGBYTES-1")),
        ("m2", "image/jpeg", bytearray(b"JPEGBYTES-22")),
        ("m3", "video/mp4", bytearray(bytes(range(64)))),
    ]
    from marky_spark.ops.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


_ROW_FOR_MIME = {
    "image/png": "png", "image/apng": "png", "image/tiff": "tiff",
    "image/x-portable-pixmap": "pnm", "image/bmp": "bmp",
    "image/gif": "gif", "image/jpeg": "jpeg", "image/webp": "webp",
    "video/avi": "avi", "image/x-icon": "ico", "audio/wav": "wav",
    "audio/flac": "flac",
}


def test_codec_table_routing(spark):
    """Every synthetic corpus payload is claimed by exactly one codec table
    row (the sniffs are disjoint, so their order never decides), and every
    row with a pixel decoder resizes: decode_media, decode_pixels and
    resize_media agree on the source dims, and the resized payload is a
    PNG of the nearest-neighbour resample of decode_image's samples."""
    from marky_spark.ops import multimodal as mm
    from marky_spark.ops.audio import synth_wav_media
    from marky_spark.ops.icocodec import ico_encode
    from marky_spark.ops.pngcodec import png_decode

    ids = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    gens = [mm.synth_png_media, mm.synth_gif_media, mm.synth_agif_media,
            mm.synth_avi_media, mm.synth_bmp_media, mm.synth_cmyk_media,
            mm.synth_apng_media, mm.synth_awebp_media, mm.synth_scan_media,
            synth_wav_media]
    rows = [(r["media_ref"], r["mime"], bytes(r["payload"]))
            for g in gens for r in g(ids).collect()]
    px = bytes(range(8 * 6 * 4))
    rows.append(("ico", "image/x-icon",
                 ico_encode([(px[:8 * 6 * 3], 8, 6, 3, "png"),
                             (px, 8, 6, 4, "dib")])))
    claimed = {}
    for ref, mime, blob in rows:
        names = [c.name for c in mm.codec_table() if c.sniff(blob)]
        assert names == [_ROW_FOR_MIME[mime]], (ref, names)
        claimed[ref] = mm.codec_for(blob)
    assert {c.name for c in claimed.values()} == set(_ROW_FOR_MIME.values())

    media = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    dec = {r["media_ref"]: r for r in mm.decode_media(media).collect()}
    pix = {r["media_ref"]: r for r in mm.decode_pixels(media).collect()}
    rsz = {r["media_ref"]: r for r in mm.resize_media(media, 5, 3).collect()}
    resizable = [ref for ref, c in claimed.items() if c.pixels]
    assert {claimed[ref].name for ref in resizable} == {
        "png", "tiff", "pnm", "bmp", "gif", "jpeg", "webp", "avi", "ico"}
    ok_rows = set()
    blobs = {ref: blob for ref, _, blob in rows}
    for ref in resizable:
        d, p, r = dec[ref], pix[ref], rsz[ref]
        assert d["ok"] == p["ok"] == r["ok"], (ref, d["ok"], p["ok"])
        if d["ok"] == "ok":
            ok_rows.add(claimed[ref].name)
            assert (d["width"], d["height"]) == (p["width"], p["height"]) \
                == (r["in_width"], r["in_height"]), ref
            w, h, ch, samples = mm.decode_image(blobs[ref])
            assert (r["width"], r["height"]) == (5, 3)
            assert png_decode(bytes(r["payload"])) == (
                5, 3, ch, mm._nearest(samples, w, h, ch, 5, 3)), ref
    assert ok_rows == {claimed[ref].name for ref in resizable}
    for ref, c in claimed.items():
        if not c.pixels:
            assert rsz[ref]["ok"] == "unsupported", ref


def test_resize_media_checks_the_target_size(spark):
    """The target size is checked when the operator is called, before any
    blob: each side positive, the area within the PNG pixel cap."""
    from marky_spark.ops.multimodal import MEDIA_SCHEMA, resize_media
    from marky_spark.ops.pngcodec import MAX_PIXELS, png_encode

    media = spark.createDataFrame(
        [("m", "image/png", bytearray(png_encode(bytes(12), 2, 2, 3)))],
        schema=MEDIA_SCHEMA)
    for w, h in ((0, 4), (4, 0), (-1, 4), (4, -3), (MAX_PIXELS, 2)):
        with pytest.raises(ValueError, match="target dimensions"):
            resize_media(media, w, h)
    row = resize_media(media, 70000, 1).collect()[0]
    assert (row["ok"], row["width"], row["height"]) == ("ok", 70000, 1)


def test_media_operator_imports_leave_codecs_unloaded():
    import os
    import subprocess
    import sys

    code = ("import sys, marky_spark.ops.audio; print(sorted(m for m in "
            "sys.modules if m.startswith('marky_spark.ops.') "
            "and m.endswith('codec')))")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"


def _with_png(spark, media):
    from marky_spark.ops.pngcodec import png_encode

    png = png_encode(bytes(range(5 * 4 * 3)), 5, 4, 3)
    return media.unionByName(spark.createDataFrame(
        [("png", "image/png", bytearray(png))], schema=media.schema)), png


def test_decode_media_typed_rows(spark):
    """A payload no codec claims is a typed unsupported row with null
    dims and size; a real PNG decodes with its payload size."""
    from marky_spark.ops.multimodal import decode_media

    media, png = _with_png(spark, _media_df(spark))
    got = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert sorted(got) == ["m1", "m2", "m3", "png"]
    for ref in ("m1", "m2", "m3"):
        assert got[ref]["ok"] == "unsupported"
        assert (got[ref]["width"], got[ref]["height"], got[ref]["channels"],
                got[ref]["n_bytes"]) == (None, None, None, None)
    assert (got["png"]["width"], got["png"]["height"], got["png"]["channels"],
            got["png"]["n_bytes"], got["png"]["ok"]) == (5, 4, 3, len(png), "ok")


def test_frame_sample_fanout(spark):
    """An animation fans out to evenly spaced frame rows; a payload with
    no frames is one unsupported row with null frame fields."""
    from marky_spark.ops.gifcodec import gif_encode_animated
    from marky_spark.ops.multimodal import frame_sample

    gif = gif_encode_animated(2, 2, bytes(range(12)),
                              [(bytes([i % 4] * 4), 0, 0, 2, 2)
                               for i in range(8)])
    media = _media_df(spark).unionByName(spark.createDataFrame(
        [("anim", "image/gif", bytearray(gif))],
        schema=_media_df(spark).schema))
    by_ref = {}
    for r in frame_sample(media, n_frames=4).collect():
        by_ref.setdefault(r["media_ref"], []).append(r)
    anim = sorted(by_ref.pop("anim"), key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in anim] == [0, 1, 2, 3]
    assert [r["frame_offset"] for r in anim] == [0, 2, 4, 6]
    assert all(r["ok"] == "ok" and r["frame_bytes"] for r in anim)
    assert sorted(by_ref) == ["m1", "m2", "m3"]
    for rows in by_ref.values():
        assert [(r["frame_idx"], r["frame_offset"], r["frame_bytes"], r["ok"])
                for r in rows] == [(None, None, None, "unsupported")]


def test_media_features_shape(spark):
    from marky_spark.ops.multimodal import FEATURE_DIM, media_features

    media, _ = _with_png(spark, _media_df(spark))
    got = media_features(media).collect()
    rows = {r["media_ref"]: r for r in got}
    assert rows["png"]["ok"] == "ok"
    assert len(rows["png"]["features"]) == FEATURE_DIM
    for ref in ("m1", "m2", "m3"):
        assert (rows[ref]["ok"], rows[ref]["features"]) == ("unsupported", None)
    # deterministic
    again = media_features(media).collect()
    assert sorted(map(str, got)) == sorted(map(str, again))


def test_attach_media_join(spark):
    from marky_spark.convert import convert
    from marky_spark.ops.multimodal import attach_media
    from marky_spark.schema import INPUT_SCHEMA

    doc = [{"doc_id": "d1", "spans": [
        {"kind": "text", "text": "intro", "media_ref": "", "offset": 0},
        {"kind": "image", "text": "", "media_ref": "m1", "offset": 1},
    ]}]
    out = convert(spark.createDataFrame(doc, schema=INPUT_SCHEMA))
    joined = attach_media(out, _media_df(spark)).collect()
    assert len(joined) == 1
    assert joined[0]["media_ref"] == "m1"
    assert bytes(joined[0]["payload"]) == b"PNGBYTES-1"


def test_ivf_topk_recall(spark, emb):
    from marky_spark.ops.similarity import brute_force_topk, ivf_topk

    q = list(emb.where(F.col("vec_id") == 0).collect()[0]["embedding"])
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in
              ivf_topk(emb, q, k=10, n_cells=16, nprobe=4).collect()}
    recall = len(exact & approx) / 10
    assert 0 in approx
    assert recall >= 0.5, f"IVF recall {recall}"


def test_ivf_assignment_partitions_corpus(spark, emb):
    from marky_spark.ops.similarity import ivf_assign, train_ivf_centroids

    centroids = train_ivf_centroids(emb, n_cells=8)
    cells = ivf_assign(emb, centroids)
    counts = {r["cell"]: r["n"] for r in
              cells.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == emb.count()   # total assignment
    assert len(counts) >= 4                       # cells actually used


def test_winnow_matches_pure_python(spark):
    """Winnowing selection (k-gram hash + window min) vs a direct Python
    re-implementation, plus the shared-substring guarantee."""
    import hashlib

    from marky_spark.ops.textstats import winnow_fingerprints

    def py_winnow(text, k=8, w=4):
        n = max(len(text) - k + 1, 1)
        grams = [hashlib.md5(text[i:i + k].encode()).hexdigest()[:8]
                 for i in range(n)]
        m = max(len(grams) - w + 1, 1)
        return sorted({min(grams[j:j + w]) for j in range(m)})

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sample = {r["doc_id"]: r["text"] for r in docs.limit(50).collect()}
    out = winnow_fingerprints(docs.limit(50))
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r["fingerprint"])
    for did, text in sample.items():
        assert sorted(got[did]) == py_winnow(text)

    # guarantee: a shared substring of length >= k+w-1 shares a fingerprint
    a = "the quick brown fox jumps over the lazy dog in the park"
    b = "XXXX quick brown fox jumps YYYY totally different text here"
    assert set(py_winnow(a)) & set(py_winnow(b))


def test_dup_components_vs_union_find(spark):
    """Large-star/small-star connected components vs a driver-side
    union-find on random graphs (chains, cliques, isolated pairs)."""
    import random

    from marky_spark.ops.dedup import dup_components

    rng = random.Random(42)
    nodes = list(range(200))
    edges = set()
    # random sparse graph + a long chain (worst case for transitivity)
    for _ in range(150):
        a, b = rng.sample(nodes, 2)
        edges.add((a, b))
    for i in range(100, 140):
        edges.add((i, i + 1))
    # union-find ground truth
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for e in edges for n in e}
    want = {n: find(n) for n in touched}

    pairs = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["component"]
           for r in dup_components(pairs).collect()}
    assert got == want


def test_dup_components_unconverged_raises(spark):
    import pytest

    from marky_spark.ops.dedup import dup_components

    # a 12-node path cannot finish in 1 round
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_components(pairs, max_iter=1).collect()


def test_dup_components_self_and_dup_edges(spark):
    from marky_spark.ops.dedup import dup_components

    pairs = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 2), (3, 4)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["component"]
           for r in dup_components(pairs).collect()}
    # self-edge keeps node 1 as a singleton; 2-3-4 collapse to 2
    assert got == {1: 1, 2: 2, 3: 2, 4: 2}


def test_sample_stratified_deterministic_and_monotone(spark, docs):
    from marky_spark.ops.sampling import sample_stratified

    small = sample_stratified(docs, {"en": 0.2}, default_rate=0.1)
    big = sample_stratified(docs, {"en": 0.6}, default_rate=0.3)
    s1 = {r["doc_id"] for r in small.select("doc_id").collect()}
    s2 = {r["doc_id"] for r in small.select("doc_id").collect()}
    assert s1 == s2                     # deterministic across runs
    b = {r["doc_id"] for r in big.select("doc_id").collect()}
    assert s1 <= b                      # same salt => nested samples
    n = docs.count()
    assert 0 < len(s1) < len(b) < n

    # rates land near targets (md5 uniformity; wide tolerance at n=500)
    en_total = docs.where(F.col("lang") == "en").count()
    en_kept = small.where(F.col("lang") == "en").count()
    assert abs(en_kept / en_total - 0.2) < 0.1

    # rate 1.0 keeps every row; rate 0.0 keeps none
    assert sample_stratified(docs, {}, default_rate=1.0).count() == n
    assert sample_stratified(docs, {}, default_rate=0.0).count() == 0


def test_sample_stratified_matches_duckdb_twin(spark, docs):
    """The operator and its SQL oracle select the identical row set."""
    import duckdb

    from marky_spark.ops.sampling import sample_oracle_sql, sample_stratified

    rates = {"en": 0.5, "de": 0.25}
    got = {r["doc_id"] for r in
           sample_stratified(docs, rates, default_rate=0.05)
           .select("doc_id").collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = {r[0] for r in con.execute(
        sample_oracle_sql(rates, default_rate=0.05)).fetchall()}
    assert got == want and got


def test_knn_join_matches_numpy(spark, emb):
    """Exact batch k-NN join vs a numpy brute-force ground truth."""
    import numpy as np

    from marky_spark.ops.similarity import knn_join

    rows = emb.where(F.col("vec_id") < 60).collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)

    got = knn_join(emb, k=3, max_id=60).collect()
    by_vec: dict = {}
    for r in got:
        by_vec.setdefault(r["vec_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cos_ppm"]))
    assert set(by_vec) == set(ids.tolist())
    for i, vid in enumerate(ids):
        ppm = {int(ids[j]): int(np.floor(cos[i, j] * 1_000_000))
               for j in range(len(ids)) if j != i}
        want = sorted(ppm.items(), key=lambda t: (-t[1], t[0]))[:3]
        have = sorted(by_vec[vid])
        assert [(n, p) for _, n, p in have] == want, vid


def test_knn_join_ivf_recall(spark, emb):
    """Bucketed k-NN join recall vs the exact join (boundary losses only)."""
    from marky_spark.ops.similarity import knn_join, knn_join_ivf

    exact = knn_join(emb, k=3, max_id=200).collect()
    small = emb.where(F.col("vec_id") < 200)
    approx = knn_join_ivf(small, k=3, n_cells=8, nprobe=4).collect()

    want = {(r["vec_id"], r["neighbor_id"]) for r in exact}
    got = {(r["vec_id"], r["neighbor_id"]) for r in approx}
    assert {r["vec_id"] for r in approx} == {r["vec_id"] for r in exact}
    recall = len(want & got) / len(want)
    assert recall >= 0.7, recall
    # within each probed set the ranking matches the exact cosine order
    for r in approx:
        assert 1 <= r["rank"] <= 3


def test_resize_media_typed_rows(spark):
    """Text and null payloads have no resize encoder: typed unsupported
    rows, null outside media_ref and the status."""
    from marky_spark.ops.multimodal import resize_media

    media = spark.createDataFrame(
        [("m1", "image/png", bytearray(b"payload-bytes")),
         ("m2", "image/png", None)],
        "media_ref string, mime string, payload binary",
    )
    rows = {r["media_ref"]: r for r in
            resize_media(media, width=8, height=4).collect()}
    assert sorted(rows) == ["m1", "m2"]
    for r in rows.values():
        assert r["ok"] == "unsupported"
        assert (r["width"], r["height"], r["in_width"], r["in_height"],
                r["payload"]) == (None,) * 5


def test_rolling_hashes_match_pure_python(spark, docs):
    """Vectorized Karp-Rabin grams vs the naive rolled recurrence, plus the
    shared-substring property."""
    from marky_spark.ops.textstats import RH_BASE, RH_K, RH_MOD, rolling_hashes

    def py_hashes(s, k=RH_K):
        out = set()
        for i in range(len(s) - k + 1):
            h = 0
            for ch in s[i:i + k]:
                h = (h * RH_BASE + ord(ch)) % RH_MOD
            out.add(h)
        return out

    sample = {r["doc_id"]: r["text"] for r in docs.limit(30).collect()}
    got: dict = {}
    for r in rolling_hashes(docs.limit(30)).collect():
        got.setdefault(r["doc_id"], set()).add(r["gram_hash"])
    for did, text in sample.items():
        want = py_hashes(text)
        assert got.get(did, set()) == want, did

    # any shared >=k-char substring shares a gram hash
    a = "the quick brown fox jumps over the lazy dog"
    b = "XXXX quick brown fox jumps XXXX something else"
    assert py_hashes(a) & py_hashes(b)


def test_redact_placeholders_and_counts(spark):
    from marky_spark.ops.textstats import redact

    df = spark.createDataFrame(
        [(1, "mail a@b.co or https://x.io/p?q=1 call 12345678 now 123"),
         (2, "clean text, no pii"),
         (3, "two mails: x@y.org z@w.net")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact(df).collect()}
    assert rows[1]["redacted"] == \
        "mail <EMAIL> or <URL> call <NUM> now 123"
    assert rows[1]["n_redactions"] == 3
    assert rows[2]["redacted"] == "clean text, no pii"
    assert rows[2]["n_redactions"] == 0
    assert rows[3]["n_redactions"] == 2


def test_redact_adversarial_literals_and_userinfo(spark):
    """Counts are per-pattern match counts, not placeholder occurrences:
    pre-existing literal tokens don't inflate, and the documented email→URL
    interaction on userinfo URLs counts both replacements."""
    from marky_spark.ops.textstats import redact

    df = spark.createDataFrame(
        [(1, "already has <EMAIL> and <NUM> literal tokens"),
         (2, "see https://user@host.com/x page")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact(df).collect()}
    assert rows[1]["n_redactions"] == 0
    assert rows[1]["redacted"] == "already has <EMAIL> and <NUM> literal tokens"
    # userinfo URL: email pattern rewrites the authority first, then the URL
    # pattern takes the remainder — two real replacements
    assert rows[2]["redacted"] == "see <URL> page"
    assert rows[2]["n_redactions"] == 2


def test_quality_scores_empty_text_scores_zero(spark):
    """Empty text must not NaN its way to a perfect score (0/0 ratios; NaN
    orders above all doubles, so least(1.0, NaN) = 1.0 → 10000 bp)."""
    from marky_spark.ops.textstats import quality_scores

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id long, text string")
    got = {r["doc_id"]: r["quality_score_bp"]
           for r in quality_scores(df).collect()}
    assert got[1] == 0
    assert got[2] == 0


def test_ivf_centroids_unbiased_on_sorted_corpus(spark):
    """train_ivf_centroids must hash-sample, not take the first N rows: on a
    corpus clustered by storage order, a head sample sees only one region."""
    import numpy as np

    from marky_spark.ops.similarity import train_ivf_centroids

    rng = np.random.default_rng(7)
    rows = []
    for i in range(512):
        base = 1.0 if i < 256 else -1.0  # low ids cluster A, high ids B
        v = (rng.standard_normal(8) * 0.05).tolist()
        v[0] = base
        rows.append((i, [float(x) for x in v]))
    df = (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
          .coalesce(1).sortWithinPartitions("vec_id"))
    cents = train_ivf_centroids(df, n_cells=4, sample=256)
    first = [c[0] for c in cents]
    assert any(x > 0.5 for x in first), f"no cluster-A centroid: {first}"
    assert any(x < -0.5 for x in first), f"no cluster-B centroid: {first}"


def test_curate_ngram_lang_model(spark):
    """curate(lang_model='ngram') swaps the inline language expression for
    the trigram model; unknown models refuse."""
    import pytest as _pytest

    from marky_spark.entry_helpers import docs_to_spans, load_documents
    from marky_spark.ops.curate import curate

    spans = docs_to_spans(load_documents(spark, SF))
    with _pytest.raises(ValueError):
        curate(spans, rates={}, lang_model="nope")
    out = curate(spans, rates={"en": 1.0}, default_rate=1.0,
                 min_quality_bp=0, lang_model="ngram").collect()
    assert len(out) > 0
    assert {r["pred_lang"] for r in out} <= {"en", "es", "de", "und"}
