"""LLM-pipeline operator tests: planted near-duplicates for the fuzzy
dedup family, ANN recall floors vs brute force, winnowing determinism,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_hdfs_loader_spark.functions.fingerprint import winnow
from clickhouse_hdfs_loader_spark.operators import dedup as DD
from clickhouse_hdfs_loader_spark.operators import multimodal as MM
from clickhouse_hdfs_loader_spark.operators import similarity as SIM
from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm window sill and the birds sing in the "
        "garden under a bright morning sun near the old oak tree")


@pytest.fixture(scope="module")
def planted_docs(spark):
    """Docs 0/1 near-identical, 2 a shuffled distant variant, 3-9 unrelated."""
    variant = BASE.replace("lazy dog", "sleepy dog").replace("old oak", "tall oak")
    rows = [(0, BASE), (1, variant),
            (2, "garden birds sing while oak trees watch the bright sun"),
            (3, "completely different text about spark query engines and "
                "distributed columnar execution at petabyte scale"),
            (4, "yet another unrelated document mentioning clickhouse "
                "sharding replication and weighted murmur hash routing"),
            (5, BASE),  # exact duplicate of 0
            (6, "short doc"),
            (7, "numbers 123 456 789 and symbols tokens for the splitter"),
            (8, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
            (9, "final filler document with some shared words like spark")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(planted_docs):
    out = {r["keeper_id"]: r["copies"]
           for r in DD.exact_dedup(planted_docs).collect()}
    assert out[0] == 2          # doc 5 deduped into doc 0
    assert 5 not in out
    assert sum(out.values()) == 10


def test_fingerprint_dedup_catches_case_variants(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "other")],
        ["doc_id", "text"])
    out = {r["keeper_id"]: r["copies"]
           for r in DD.fingerprint_dedup(df).collect()}
    assert out[1] == 2 and out[3] == 1


def test_ngram_jaccard_finds_planted_pair(planted_docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in DD.ngram_jaccard_pairs(planted_docs, threshold=0.3).collect()}
    assert (0, 5) in pairs and pairs[(0, 5)] == 1.0   # exact dup
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.5   # near dup
    assert (0, 3) not in pairs                        # unrelated


def test_minhash_lsh_finds_planted_pair(planted_docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in DD.minhash_lsh_pairs(planted_docs).collect()}
    assert (0, 5) in pairs and (0, 1) in pairs
    assert (3, 4) not in pairs


def test_minhash_signature_deterministic(planted_docs):
    a = DD.minhash_signatures(planted_docs).orderBy("id").collect()
    b = DD.minhash_signatures(planted_docs).orderBy("id").collect()
    assert a == b


def test_simhash_near_pair_and_distance(spark):
    """The 4×16-band index GUARANTEES recall only for hamming ≤ 3
    (pigeonhole); plant a 1-bit-distance variant (suffix append) and an
    identical copy — measured distances: +' extra' → 1, unrelated → ~30."""
    rows = [(0, BASE), (1, BASE + " extra"), (2, BASE),
            (3, "completely different text about spark query engines"),
            (4, "clickhouse sharding replication weighted murmur routing")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in DD.simhash_pairs(df, max_hamming=3).collect()}
    assert pairs[(0, 2)] == 0        # identical text
    assert pairs[(0, 1)] == 1        # 1-bit variant guaranteed found
    assert (3, 4) not in pairs       # unrelated pair excluded


@pytest.mark.slow
def test_simhash_hot_band_bucket_cap(spark):
    """Degenerate band values (many near-identical docs hashing to the
    same 16-bit band) must NOT square: with max_bucket below the hot
    bucket's size the capped bucket contributes zero pairs, while an
    uncapped run on the same data explodes into n·(n-1)/2 pairs."""
    n = 40
    rows = [(i, BASE) for i in range(n)]          # all-identical → hot bucket
    rows += [(100, "unrelated doc about parquet"), (101, "unrelated doc about parquet")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = DD.simhash_pairs(df, max_hamming=3, max_bucket=10_000).count()
    assert uncapped >= n * (n - 1) // 2           # the quadratic blowup exists
    capped = DD.simhash_pairs(df, max_hamming=3, max_bucket=n - 1).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (100, 101) in got                      # small buckets still pair
    assert not any(a < n and b < n for a, b in got)  # hot bucket dropped


@pytest.mark.slow
def test_lsh_topk_recall_vs_brute(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    brute = {(r["query_id"], r["id"])
             for r in SIM.brute_force_topk(emb, q, k=5).collect()}
    lsh = {(r["query_id"], r["id"])
           for r in SIM.lsh_topk(emb, q, k=5, bands=8).collect()}
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.5, f"LSH recall {recall}"


@pytest.mark.slow
def test_ivf_topk_recall_vs_brute(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    brute = {(r["query_id"], r["id"])
             for r in SIM.brute_force_topk(emb, q, k=5).collect()}
    ivf = {(r["query_id"], r["id"])
           for r in SIM.ivf_topk(emb, q, k=5, m=4, nprobe=2).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.4, f"IVF recall {recall}"


def test_winnow_determinism_and_locality():
    fp1 = winnow(BASE)
    fp2 = winnow(BASE)
    assert fp1 == fp2 and len(fp1) > 0
    # local change perturbs only some fingerprints (winnowing guarantee)
    fp3 = winnow(BASE.replace("lazy", "hazy"))
    overlap = len(set(fp1) & set(fp3)) / len(set(fp1))
    assert overlap > 0.5
    assert winnow("tiny") == []   # shorter than k


def test_winnow_batch_parity(sf_dir):
    """The vectorized numpy winnow (r16, the UDF's kernel) is bit-exact
    the scalar reference on the full fixture corpus, boundary lengths,
    unicode (incl. lowercase length changes and astral-plane code
    points), and randomized k/w — per-doc lists compare ==, no
    tolerance."""
    import random

    import pyarrow.parquet as pq

    from clickhouse_hdfs_loader_spark.functions.fingerprint import (
        winnow_batch,
    )

    texts = (pq.read_table(f"{sf_dir}/documents.parquet")
             .column("text").to_pylist())
    assert winnow_batch(texts) == [winnow(t or "") for t in texts]

    edges = ["", "a", "abcdefg", "abcdefgh", "abcdefghij", "abcdefghijk",
             "aaaaaaaaaaaaaaaa", "ABCdefGHİxyzw", "İ" * 12,
             "\U0001F600" * 15, "héllo wörld mixed 中文 text here",
             None, "x" * 10, "x" * 11, "\x00" * 20,
             "ab\ncd\tef gh ij kl mn"]
    assert winnow_batch(edges) == [winnow(t or "") for t in edges]
    assert winnow_batch([]) == []

    rng = random.Random(7)
    pool = [chr(rng.randrange(1, 0x110000)) for _ in range(500)]
    pool = [c for c in pool if not (0xD800 <= ord(c) < 0xE000)]
    for _ in range(10):
        k, w = rng.randint(2, 8), rng.randint(1, 6)
        docs = ["".join(rng.choice(pool)
                        for _ in range(rng.randint(0, 60)))
                for _ in range(40)]
        assert winnow_batch(docs, k, w) == [winnow(d, k, w) for d in docs]
    with pytest.raises(ValueError, match="k must be <= 8"):
        winnow_batch(["abcdefghijkl"], k=9)


def test_multimodal_decode_stub_and_frames(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "x" * 200)],
                               ["doc_id", "text"])
    payload = MM.with_binary_payload(df)
    meta = {r["doc_id"]: r for r in MM.decode_image_batch(payload).collect()}
    assert meta[1]["n_bytes"] == 11
    assert meta[1]["width"] == 64 + 11 % 577
    assert meta[2]["n_bytes"] == 200
    frames = MM.frame_sample(payload, every_n_bytes=64).collect()
    assert len([f for f in frames if f["doc_id"] == 2]) == 4  # offsets 0,64,128,192

    with pytest.raises(Exception, match="NotImplementedError|not a recognized container"):
        MM.decode_image_batch(payload, fake=False).collect()


def test_media_header_parsing_real_containers():
    """parse_media_header reads REAL container headers — byte-exact
    builders round-trip, plus a hand-built JPEG SOF0 and sniff rejects."""
    assert MM.parse_media_header(MM.build_png(640, 480)) == (33, 640, 480, 3, "png")
    assert MM.parse_media_header(MM.build_gif(13, 37)) == (13, 13, 37, 3, "gif")
    assert MM.parse_media_header(MM.build_bmp(320, 200)) == (54, 320, 200, 3, "bmp")
    assert MM.parse_media_header(MM.build_wav(44100, 16, 2)) == (44, 44100, 16, 2, "wav")
    # minimal JPEG: SOI + APP0 stub + SOF0 (h=99, w=101, 3 components)
    import struct
    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 99, 101) + b"\x03\x00\x00\x00")
    assert MM.parse_media_header(jpeg) == (len(jpeg), 101, 99, 3, "jpeg")
    # top-down BMP (negative height) normalizes
    bmp = bytearray(MM.build_bmp(10, 20))
    bmp[22:26] = struct.pack("<i", -20)
    assert MM.parse_media_header(bytes(bmp))[2] == 20
    # text payloads must NOT sniff as containers ("BM"/"GIF8" prefixes
    # are plausible text; utf-8 can't fake the validated fields)
    for text in (b"hello world", b"BMW makes cars, padding " + b"x" * 40,
                 b"GIF8", b"RIFF raff " + b"y" * 40):
        assert MM.parse_media_header(text) is None
    # truncated real containers reject instead of mis-parsing
    assert MM.parse_media_header(MM.build_png(1, 1)[:20]) is None
    # a real GIF whose 7 descriptor bytes are ALL printable (width 0x4141,
    # no GCT, printable packed/bg/aspect) must still sniff as a gif — the
    # anti-text guard looks past the descriptor into the following block
    # bytes, which in a real image contain non-printable data
    printable_desc_gif = (b"GIF89a" + b"\x41\x41" + b"\x20\x20"
                          + b"\x20\x20\x20"          # packed/bg/aspect
                          + b"\x2c" + b"\x00" * 8)   # image descriptor
    assert MM.parse_media_header(printable_desc_gif) == (
        len(printable_desc_gif), 0x4141, 0x2020, 3, "gif")
    # ...while an actual SENTENCE starting with the magic stays rejected
    assert MM.parse_media_header(
        b"GIF89a is one of two versions of the GIF spec.") is None


def test_synthesize_media_decodes_exactly(spark):
    """synthesize_media → decode_image_batch(fake=False) round-trips the
    real parser over every built format with id-derived geometry — all
    10 sniffs of the %10 cycle (incl. the three WEBP chunk variants and
    both TIFF byte orders, which need ids from distinct // 10 cohorts;
    doc_id % 2 is CONSTANT per residue class, so channel/endian
    variants ride (did // 10) % 2)."""
    ids = list(range(10)) + [13, 15, 16, 17, 19, 25, 29]
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    out = {r["doc_id"]: r for r in
           MM.decode_image_batch(MM.synthesize_media(df), fake=False).collect()}
    assert out[0]["format"] == "png" and out[0]["width"] == 1
    assert out[1]["format"] == "gif" and out[1]["height"] == 8
    assert out[2]["format"] == "bmp" and out[2]["n_bytes"] == 54
    assert out[3]["format"] == "wav" and out[3]["width"] == 16000
    assert out[3]["channels"] == 1 and out[13]["channels"] == 2  # wav 3, 13
    assert out[4]["format"] == "mp4" and out[4]["n_bytes"] == 236
    # webp: id 5 → vp8 (5//10=0), 15 → vp8l (15//10=1), 25 → vp8x
    assert out[5]["format"] == "webp" and out[5]["n_bytes"] == 30 \
        and out[5]["channels"] == 3 and out[5]["width"] == 6
    assert out[15]["format"] == "webp" and out[15]["n_bytes"] == 26 \
        and out[15]["width"] == 16 and out[15]["height"] == 1 + 105 % 512
    assert out[25]["format"] == "webp" and out[25]["n_bytes"] == 30 \
        and out[25]["channels"] == 4 and out[25]["width"] == 26
    assert out[6]["format"] == "flac" and out[6]["width"] == 8000 + 6 * 4000
    assert out[6]["height"] == 16 and out[6]["channels"] == 1
    assert out[16]["channels"] == 2 and out[16]["n_bytes"] == 42 \
        and out[16]["width"] == 8000        # 16 % 8 == 0
    assert out[7]["format"] == "heic" and out[7]["width"] == 8 \
        and out[7]["n_bytes"] == 104
    assert out[17]["format"] == "heic" and out[17]["height"] == 1 + 119 % 512
    assert out[8]["format"] == "avif" and out[8]["width"] == 9
    # tiff: id 9 little-endian ch 1, 19 big-endian ch 2, 29 LE ch 3
    assert out[9]["format"] == "tiff" and out[9]["n_bytes"] == 50 \
        and out[9]["width"] == 10 and out[9]["height"] == 1 + 63 % 512 \
        and out[9]["channels"] == 1
    assert out[19]["format"] == "tiff" and out[19]["channels"] == 2 \
        and out[19]["width"] == 20
    assert out[29]["format"] == "tiff" and out[29]["channels"] == 3 \
        and out[29]["n_bytes"] == 50


def test_numpy_topk_matches_native(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    native = sorted(map(tuple, SIM.brute_force_topk(emb, q, k=5).collect()))
    blas = sorted(map(tuple, SIM.brute_force_topk_numpy(emb, q, k=5).collect()))
    assert native == blas


@pytest.mark.slow
def test_kmeans_deterministic_and_improves_recall_path(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1 = SIM.kmeans_fit(emb, k=4, iters=2)
    c2 = SIM.kmeans_fit(emb, k=4, iters=2)
    assert [cid for cid, _ in c1] == [0, 1, 2, 3]
    assert all(abs(a - b) < 1e-12 for (_, v1), (_, v2) in zip(c1, c2)
               for a, b in zip(v1, v2))

    q = emb.where(F.col("vec_id") < 3)
    brute = {(r["query_id"], r["id"])
             for r in SIM.brute_force_topk(emb, q, k=5).collect()}
    trained = {(r["query_id"], r["id"])
               for r in SIM.ivf_topk_trained(emb, q, k=5, m=4, nprobe=2,
                                             iters=2).collect()}
    assert len(brute & trained) / len(brute) >= 0.4


def test_shingles_udf_matches_expression(planted_docs):
    """The Arrow-vectorized shingle UDF must emit the exact shingle SET the
    native expression chain does (dedup correctness hangs on this)."""
    from clickhouse_hdfs_loader_spark.functions.text import shingles, shingles_udf
    for k in (2, 3):
        a = planted_docs.select("doc_id",
                                F.explode(shingles(F.col("text"), k)).alias("s"))
        b = planted_docs.select("doc_id",
                                F.explode(shingles_udf(k)(F.col("text"))).alias("s"))
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_shingles_udf_short_and_empty(spark):
    from clickhouse_hdfs_loader_spark.functions.text import shingles_udf
    df = spark.createDataFrame(
        [(0, "one two"), (1, ""), (2, None), (3, "a b c")], ["doc_id", "text"])
    got = {r.doc_id: r.s for r in
           df.select("doc_id", shingles_udf(3)(F.col("text")).alias("s")).collect()}
    assert got[0] == [] and got[1] == [] and got[2] == [] and got[3] == ["a b c"]


def test_levenshtein_verify_pairs(planted_docs, spark):
    """Candidate (0,1) is a 2-edit variant → survives; a planted far pair
    (0,3) must be rejected by the normalized-distance gate."""
    cand = spark.createDataFrame([(0, 1), (0, 3), (0, 5)], ["id_a", "id_b"])
    out = {(r.id_a, r.id_b): (r.lev, r.norm_lev)
           for r in DD.levenshtein_verify_pairs(planted_docs, cand).collect()}
    assert (0, 5) in out and out[(0, 5)][0] == 0  # exact dup: distance 0
    assert (0, 1) in out and 0 < out[(0, 1)][0] <= 12
    assert (0, 3) not in out  # unrelated text: rejected


@pytest.mark.slow
def test_shingles_udf_matches_expression_random_texts(spark):
    """Property check over adversarial text: unicode, punctuation runs,
    delimiters, empties — the UDF and expression shingle sets must agree."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.functions.text import shingles, shingles_udf

    @given(st.lists(st.text(max_size=48), min_size=1, max_size=24))
    @settings(max_examples=10, deadline=None)
    def check(texts):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                   ["doc_id", "text"])
        a = df.select("doc_id", F.explode(shingles(F.col("text"), 3)).alias("s"))
        b = df.select("doc_id", F.explode(shingles_udf(3)(F.col("text"))).alias("s"))
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    check()


def test_chunk_documents_edges(spark):
    """Chunking: empty text yields no chunks; short docs one chunk; the
    overlap windows cover every token; overlap >= chunk_size rejected."""
    import pytest
    from clickhouse_hdfs_loader_spark.operators.corpus import chunk_documents
    df = spark.createDataFrame(
        [(1, ""), (2, "a b c"), (3, " ".join(f"t{i}" for i in range(40)))],
        ["doc_id", "text"])
    rows = {(r["doc_id"], r["chunk_idx"]): r
            for r in chunk_documents(df, chunk_size=32, overlap=8).collect()}
    assert not any(d == 1 for d, _ in rows)          # empty -> no chunks
    assert rows[(2, 0)]["n_chunk_tokens"] == 3
    assert rows[(2, 0)]["chunk_text"] == "a b c"
    assert rows[(3, 0)]["n_chunk_tokens"] == 32      # [0:32)
    assert rows[(3, 1)]["n_chunk_tokens"] == 16      # [24:40)
    assert rows[(3, 1)]["chunk_text"].startswith("t24 ")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=8, overlap=8)


def test_pack_token_budget_bins(spark):
    """Packing: bins fill by cumulative tokens-before within each group —
    a doc straddling the boundary lands in the bin where it starts."""
    from clickhouse_hdfs_loader_spark.operators.corpus import pack_token_budget
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 60), "s0") for i in range(10)],
        ["doc_id", "text", "source"])
    out = {r["bin"]: r for r in
           pack_token_budget(docs, budget=100, group_col="source").collect()}
    # cum_before per doc: 0,60,...,540 -> bins 0,0,1,1,2,3,3,4,4,5
    assert out[0]["n_docs"] == 2 and out[0]["bin_tokens"] == 120
    assert out[0]["first_doc"] == 0 and out[0]["last_doc"] == 1
    assert out[2]["n_docs"] == 1 and out[2]["first_doc"] == 4
    assert len(out) == 6


def test_stratified_sample_deterministic(spark):
    """Sampling is a pure function of doc_id + stratum thresholds."""
    from clickhouse_hdfs_loader_spark.operators.corpus import stratified_sample
    docs = spark.createDataFrame(
        [(i, "x", "en" if i % 2 == 0 else "de") for i in range(400)],
        ["doc_id", "text", "lang"])
    a = sorted(r["doc_id"] for r in
               stratified_sample(docs, {"en": "8000"}).collect())
    b = sorted(r["doc_id"] for r in
               stratified_sample(docs, {"en": "8000"}).collect())
    assert a == b and 0 < len(a) < 400
    en = sum(1 for i in a if i % 2 == 0)
    de = len(a) - en
    assert en > de  # en keeps ~2x the rate of the default stratum


def test_repetition_stats_filters_repetitive_docs(spark):
    """Gopher-style repetition ratios: a looping doc fails the top-bigram
    threshold, varied text passes, sub-bigram docs drop out."""
    from clickhouse_hdfs_loader_spark.operators.corpus import repetition_stats
    docs = spark.createDataFrame([
        (1, "spam spam spam spam spam spam"),          # one bigram repeated
        (2, "the quick brown fox jumps over the dog"),  # all distinct
        (3, "one"),                                     # < 2 words
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_stats(docs, k=2).collect()}
    assert 3 not in out
    assert out[1]["n_grams"] == 5 and out[1]["top_frac"] == 1.0
    assert out[1]["dup_frac"] == 0.8 and out[1]["keep"] == 0
    assert out[2]["n_grams"] == 7 and out[2]["dup_frac"] == 0.0
    assert out[2]["keep"] == 1


def test_contamination_check_flags_probe_overlap(spark):
    """Decontamination: a doc identical to a probe doc scores 1.0, a
    partial-overlap doc lands in between, unrelated text scores 0."""
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        contamination_check)
    probe = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    docs = spark.createDataFrame([
        (1, BASE),                                     # full leak
        (2, "completely unrelated words about query engines and parquet "
            "scans running on large distributed clusters today"),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           contamination_check(docs, probe, k=3, threshold=0.5).collect()}
    assert out[1]["contam_frac"] == 1.0 and out[1]["contaminated"] == 1
    assert out[2]["hits"] == 0 and out[2]["contaminated"] == 0


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """Duplicate seed vectors tie on cosine and all assign to the FIRST
    centroid, leaving the duplicate's cluster empty — kmeans_fit must
    carry the previous centroid through (same coalesce the SQL oracle
    applies), not drop or NaN it."""
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, [0.9, 0.1])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = dict(SIM.kmeans_fit(emb, k=2, iters=1))
    # every vector tied or lost to centroid 0, so cluster 1 is empty after
    # the single iteration and must keep its seed exactly
    assert cents[1] == [1.0, 0.0]
    # cluster 0 averaged all four members
    assert cents[0] == [pytest.approx((1 + 1 + 0.9 + 0) / 4),
                        pytest.approx((0 + 0 + 0.1 + 1) / 4)]


def test_ivf_assign_gemm_matches_expr(spark, sf_dir):
    """The BLAS gemm-argmax assignment (100 TB path) must produce the same
    centroid per vector as the codegen expression fold at small m."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = SIM.seed_centroids(emb, m=8)
    expr = {r["id"]: r["centroid"]
            for r in SIM.ivf_assign_expr(emb, cents).collect()}
    gemm = {r["id"]: r["centroid"]
            for r in SIM.ivf_assign_gemm(emb, cents).collect()}
    assert expr == gemm


def test_ivf_assign_zero_norm_sentinel_both_paths(spark):
    """Zero-norm and NULL vectors are unassignable: BOTH assignment paths
    must pin them to the -1 sentinel (not engine-dependent NaN-compare
    fallout, not numpy wrap-around), and the k-means sum paths must
    exclude them so they can't pull a centroid's mean (a -1 fed to
    np.add.at would silently wrap into cluster k-1)."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]),
            (3, None), (4, [0.9, 0.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    for path in (SIM.ivf_assign_expr, SIM.ivf_assign_gemm):
        got = {r["id"]: r["centroid"] for r in path(emb, cents).collect()}
        assert got == {0: 0, 1: 1, 2: -1, 3: -1, 4: 0}, path.__name__
    assigned = SIM.ivf_assign_expr(emb, cents)
    for sums in (SIM._kmeans_sums_explode(assigned),
                 SIM._kmeans_sums_partial(assigned, k=2)):
        per = {(r["centroid"], r["dim"]): (r["s"], r["n"])
               for r in sums.collect()}
        assert set(c for c, _ in per) == {0, 1}
        # centroid 0 sums rows 0 and 4 only — the zero/null rows excluded
        assert per[(0, 0)] == (1_000_000 + 900_000, 2)


def test_ivf_assign_auto_dispatch_and_large_m(spark, sf_dir):
    """auto keeps the oracle-replayable expr fold at m<=32 and takes the
    gemm path at coarse-quantizer sizes; m=256 must run end-to-end (the
    expr path at that m would blow the codegen method-size limit)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    m = min(256, n)
    cents = SIM.seed_centroids(emb, m=m)
    assigned = SIM.ivf_assign(emb, cents)   # auto -> gemm at m=256
    rows = assigned.collect()
    assert len(rows) == n
    ids = {cid for cid, _ in cents}
    assert all(r["centroid"] in ids for r in rows)
    # seed centroid i IS vector i -> every seed row self-assigns
    by_id = {r["id"]: r["centroid"] for r in rows}
    seeds = sorted(by_id)[:m]
    self_hits = sum(1 for i, vid in enumerate(seeds) if by_id[vid] == i)
    assert self_hits >= int(m * 0.95)  # ties may pick an identical twin


def test_simhash_dropped_buckets_diagnostic(spark):
    rows = [(i, "identical text every time") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # cap below the bucket size -> every band bucket reported as dropped
    dropped = DD.simhash_dropped_buckets(df, max_bucket=10).collect()
    assert len(dropped) == 4 and all(r["n_ids"] == 30 for r in dropped)
    # cap above -> nothing dropped
    assert DD.simhash_dropped_buckets(df, max_bucket=100).count() == 0


def test_kmeans_partial_agg_bitwise_matches_explode(spark, sf_dir):
    """The map-side-combine numpy partial sums that k-means training
    runs must equal the posexplode reference sums EXACTLY (int64
    fixed-point sums are order-free) on the fixture's assignment, by
    either assignment kernel — keeping the trained-IVF SQL oracle valid
    on the scale path."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = SIM.seed_centroids(emb, m=4)
    for method in ("expr", "gemm"):
        assigned = SIM.ivf_assign(emb, cents, method=method)
        a = sorted(map(tuple, SIM._kmeans_sums_partial(assigned, k=4).collect()))
        b = sorted(map(tuple, SIM._kmeans_sums_explode(assigned).collect()))
        assert a == b and len(a) > 0, method


def test_quota_sample_caps_and_determinism(spark):
    from clickhouse_hdfs_loader_spark.operators.corpus import quota_sample
    rows = [(i, f"src{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = quota_sample(df, group_col="source", quota=4).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r["doc_id"])
    assert all(len(v) == 4 for v in per.values())
    # deterministic: same winners on a rerun
    again = quota_sample(df, group_col="source", quota=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_quota_sample_prefilter_identity_on_hot_group(spark):
    """The two-phase pre-filter (scale path for hot-domain skew) must
    return EXACTLY the exact plan's rows — including on a synthetic hot
    group far larger than the quota — because the md5 rank is monotone
    in its 32-bit prefix, so survivors are a prefix of the exact order."""
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        quota_sample, quota_sample_check)
    rows = ([(i, "hot") for i in range(5000)]          # hot domain >> quota
            + [(10_000 + i, f"cold{i % 7}") for i in range(70)]
            + [(20_000, "tiny")])                      # group smaller than quota
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    exact = sorted(map(tuple, quota_sample(df, quota=25).collect()))
    fast = quota_sample(df, quota=25, prefilter=True)
    assert sorted(map(tuple, fast.collect())) == exact
    quota_sample_check(df, fast, quota=25)             # must not raise
    # a margin far too tight for the hot group must FAIL LOUDLY, not
    # silently return a divergent sample
    import pytest as _pt
    starved = quota_sample(df, quota=25, prefilter=True, margin=0.04)
    with _pt.raises(ValueError, match="margin too tight"):
        quota_sample_check(df, starved, quota=25)


def test_incremental_dedup_anti_joins_store(spark):
    batch = spark.createDataFrame(
        [(10, "Hello, World!"), (11, "hello world"),     # in-batch dup pair
         (12, "fresh content here"), (13, "already seen text")],
        ["doc_id", "text"])
    from clickhouse_hdfs_loader_spark.functions.text import md5_fingerprint
    from pyspark.sql import functions as SF
    store = (spark.createDataFrame([("already   SEEN text!",)], ["text"])
             .select(md5_fingerprint(SF.col("text")).alias("fp")))
    out = {r["doc_id"]: r["copies"]
           for r in DD.incremental_dedup(batch, store).collect()}
    assert out == {10: 2, 12: 1}   # 11 folded into 10; 13 blocked by store
    # long-key variant: identical results, and the anti-join exchanges key
    # on the 8-byte xxhash64 long instead of the 32-char fp string
    fast = DD.incremental_dedup(batch, store, long_join_key=True)
    out2 = {r["doc_id"]: r["copies"] for r in fast.collect()}
    assert out2 == out
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64(fp" in plan


def test_minhash_dropped_buckets_diagnostic(spark):
    rows = [(i, "identical text every time for the hot bucket") for i in range(25)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    dropped = DD.minhash_dropped_buckets(df, max_bucket=10).collect()
    assert len(dropped) == 8 and all(r["n_ids"] == 25 for r in dropped)
    assert DD.minhash_dropped_buckets(df, max_bucket=30).count() == 0


@pytest.mark.slow
def test_persisted_ivf_index_prunes_partitions_and_matches(spark, sf_dir, tmp_path):
    """build_ivf_index → query_ivf_index: the persisted index must (a)
    return EXACTLY ivf_topk_trained's answer for the same centroids (same
    ranking semantics over the same probed buckets), and (b) read only
    the probed centroid partitions — the scan plan must carry a
    PartitionFilters entry on centroid, the static pruning that makes the
    serve path touch nprobe/m of a 100 TB corpus."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    cents = SIM.build_ivf_index(emb, path, m=8, iters=2)
    q = emb.where(F.col("vec_id") < 3)
    served = SIM.query_ivf_index(spark, path, cents, q, k=5, nprobe=2)
    # reference: the in-memory trained pipeline with identical centroids
    assigned = SIM.ivf_assign(emb, cents)
    probe_structs = []
    from clickhouse_hdfs_loader_spark.functions.vectors import cosine
    qq = q.select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qv"))
    for cid, cv in cents:
        cvec = F.array(*[F.lit(float(x)) for x in cv])
        probe_structs.append(F.struct(cosine(F.col("qv"), cvec).alias("cos"),
                                      F.lit(cid).alias("centroid")))
    probes = (qq.withColumn("probe", F.explode(
                  F.slice(F.reverse(F.array_sort(F.array(*probe_structs))), 1, 2)))
              .select("query_id", "qv", F.col("probe.centroid").alias("centroid")))
    cand = (assigned.join(F.broadcast(probes), "centroid")
            .where(F.col("query_id") != F.col("id")))
    expect = SIM._ranked_topk(cand.withColumn(
        "cos", cosine(F.col("qv"), F.col("v"))), 5)
    assert sorted(map(tuple, served.collect())) == \
        sorted(map(tuple, expect.collect()))
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan.split(
        "PartitionFilters", 1)[1][:200]


@pytest.mark.slow
def test_ivf_index_incremental_append(spark, sf_dir, tmp_path):
    """append_to_ivf_index must make new vectors servable without
    rebuilding: build on 80% of the corpus, append the held-out 20%, and
    the served answer must equal querying an index built over the full
    corpus with the SAME centroids (frozen-centroid assignment is
    order-independent)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 5 != 0)
    late = emb.where(F.col("vec_id") % 5 == 0)
    p1 = str(tmp_path / "idx_incremental")
    cents = SIM.build_ivf_index(base, p1, m=8, iters=2)
    SIM.append_to_ivf_index(late, p1, cents)
    p2 = str(tmp_path / "idx_full")
    SIM.ivf_assign(emb, cents).write.partitionBy("centroid").parquet(p2)
    q = emb.where(F.col("vec_id") < 3)
    a = SIM.query_ivf_index(spark, p1, cents, q, k=5, nprobe=2)
    b = SIM.query_ivf_index(spark, p2, cents, q, k=5, nprobe=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_mixture_sample_rates_and_determinism(spark):
    """The binding group (largest n/w) keeps every row (rate = 1); other
    groups keep ~rate·n rows via the md5-prefix coin; membership is a
    pure function of the id (identical on rerun); sources outside the
    weight table are dropped entirely."""
    from clickhouse_hdfs_loader_spark.operators.corpus import mixture_sample
    rows = ([(i, "web") for i in range(4000)]
            + [(10_000 + i, "code") for i in range(500)]
            + [(20_000 + i, "books") for i in range(500)]
            + [(30_000 + i, "unknown") for i in range(100)])
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    # code is binding: n/w = 500/.25 = 2000 vs web 4000/.5 = 8000,
    # books 500/.25 = 2000 (tie — both keep everything)
    out = mixture_sample(df, {"web": 0.5, "code": 0.25, "books": 0.25})
    got = out.collect()
    per = {}
    for r in got:
        per.setdefault(r["source"], []).append(r["doc_id"])
    assert "unknown" not in per
    assert len(per["code"]) == 500 and len(per["books"]) == 500
    # web target: 0.5 * 2000 = 1000 of 4000 → Binomial(4000, .25);
    # ±5 sigma band keeps flakiness ~impossible while proving the rate
    assert 860 <= len(per["web"]) <= 1140
    rate = {r["source"]: r["target_rate"] for r in got}
    assert rate["code"] == 1.0 and rate["books"] == 1.0
    assert rate["web"] == 0.25
    again = mixture_sample(df, {"web": 0.5, "code": 0.25, "books": 0.25})
    assert sorted(map(tuple, got)) == sorted(map(tuple, again.collect()))


def test_passage_dup_spans_merges_maximal_spans(spark):
    """Two docs share a 7-word run inside otherwise-unique text: with
    k=3 every one of the 5 shared 3-grams is cross-doc duplicated, and
    gaps-and-islands merges them into ONE maximal span per doc at the
    right token offsets; unique text produces no spans; an in-doc-only
    repeat is excluded by the distinct-doc threshold."""
    from clickhouse_hdfs_loader_spark.operators.dedup import passage_dup_spans
    shared = "the quick brown fox jumps over dogs"
    docs = spark.createDataFrame(
        [(1, "alpha beta " + shared + " gamma delta"),
         (2, shared + " epsilon zeta eta theta"),
         # doc 3: repeats a 3-gram within ITSELF only — no cross-doc dup
         (3, "solo run here solo run here solo run here")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           passage_dup_spans(docs, k=3, min_docs=2).collect()}
    assert set(out) == {1, 2}
    # doc 1: shared run occupies token positions 2..8 (0-based)
    assert (out[1]["span_start"], out[1]["span_end"], out[1]["n_grams"]) \
        == (2, 8, 5)
    # doc 2: run starts the document, positions 0..6
    assert (out[2]["span_start"], out[2]["span_end"], out[2]["n_grams"]) \
        == (0, 6, 5)


def test_passage_dup_spans_join_strategy_identical(spark, sf_dir):
    """The memory-safe join-back strategy returns the identical span set
    as the one-pass posting-list default on the real corpus."""
    from clickhouse_hdfs_loader_spark.operators.dedup import passage_dup_spans
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, passage_dup_spans(docs, k=5).collect()))
    b = sorted(map(tuple,
                   passage_dup_spans(docs, k=5, strategy="join").collect()))
    assert a == b and len(a) > 0


def test_semantic_dedup_drops_higher_id_and_skips_unassignable(spark):
    """Within a cluster the higher id is dropped with the minimum-id
    near-neighbor as keeper; cross-cluster near-misses survive; a
    zero-norm vector (sentinel centroid -1) never appears in the output
    on either side of a pair."""
    from clickhouse_hdfs_loader_spark.operators.dedup import semantic_dedup
    e1 = [1.0, 0.0, 0.0, 0.0]
    e1b = [0.999, 0.01, 0.0, 0.0]    # near-dup of e1
    e2 = [0.0, 1.0, 0.0, 0.0]        # own cluster, no mate
    zero = [0.0, 0.0, 0.0, 0.0]      # unassignable
    df = spark.createDataFrame(
        [(0, e1), (1, e2), (2, e1b), (3, zero)],
        ["vec_id", "embedding"])
    # centroids from the 2 lowest ids: c0=e1, c1=e2
    out = semantic_dedup(df, m=2, threshold=0.9).collect()
    assert [(r["dropped_id"], r["keeper_id"], r["centroid"]) for r in out] \
        == [(2, 0, 0)]
    assert out[0]["cos"] > 0.99


@pytest.mark.slow
def test_incremental_minhash_dedup_statuses(spark):
    """Fuzzy incremental ingest against a persisted band index: an exact
    copy of a store doc is a store candidate; a batch-internal duplicate
    pair keeps the lower id novel and marks the higher one dup_batch; a
    unique doc is novel; store precedence beats batch membership."""
    from clickhouse_hdfs_loader_spark.operators.dedup import (
        incremental_minhash_dedup, minhash_band_index)
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the river runs past the old stone mill every morning")
    other = ("completely different content about spark adaptive execution "
             "plans shuffles partitions codegen arrow batches and buckets")
    store = spark.createDataFrame([(1, base), (2, other)],
                                  ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(10, base),                    # exact copy of store doc 1
         (11, "nothing like anything else entirely novel text with many "
              "unusual words zebra quartz fjord glyph vexing mute banjo"),
         (12, "nothing like anything else entirely novel text with many "
              "unusual words zebra quartz fjord glyph vexing mute banjo")],
        ["doc_id", "text"])
    idx = minhash_band_index(store)
    got = {r["doc_id"]: r["status"] for r in
           incremental_minhash_dedup(batch, idx).collect()}
    assert got == {10: "dup_store_candidate", 11: "novel",
                   12: "dup_batch"}


@pytest.mark.slow
def test_incremental_minhash_dedup_contains_full_corpus_pairs(spark, sf_dir):
    """Containment vs the full-corpus LSH: any cross (store, batch)
    candidate pair found by minhash_lsh_pairs over the WHOLE corpus must
    flag the batch-side doc as a store candidate — signatures depend only
    on the text, so index-vs-batch banding finds every collision the
    monolithic self-join finds (the index side has no bucket cap)."""
    from clickhouse_hdfs_loader_spark.operators.dedup import (
        incremental_minhash_dedup, minhash_band_index, minhash_lsh_pairs)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    import pyspark.sql.functions as SF
    docs = read_table(spark, sf_dir, "documents")
    store = docs.where(SF.col("doc_id") % 5 != 0)
    batch = docs.where(SF.col("doc_id") % 5 == 0)
    flagged = {r["doc_id"] for r in
               incremental_minhash_dedup(batch, minhash_band_index(store))
               .where(SF.col("status") == "dup_store_candidate").collect()}
    cross = set()
    for r in minhash_lsh_pairs(docs).collect():
        if r["id_a"] % 5 != 0 and r["id_b"] % 5 == 0:
            cross.add(r["id_b"])
        if r["id_b"] % 5 != 0 and r["id_a"] % 5 == 0:
            cross.add(r["id_a"])
    assert cross and cross <= flagged


@pytest.mark.slow
def test_stream_incremental_minhash_matches_batch(spark, sf_dir):
    """The foreachBatch streaming twin classifies every batch doc with
    the same status as the batch operator (store index static on both
    sides; availableNow makes the comparison deterministic)."""
    from clickhouse_hdfs_loader_spark.operators.dedup import (
        incremental_minhash_dedup, minhash_band_index)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_incremental_minhash)
    import pyspark.sql.functions as SF
    docs = read_table(spark, sf_dir, "documents")
    batch_out = sorted(map(tuple, incremental_minhash_dedup(
        docs.where(SF.col("doc_id") % 5 == 0),
        minhash_band_index(docs.where(SF.col("doc_id") % 5 != 0))
    ).collect()))
    stream_out = sorted(map(tuple,
                            stream_incremental_minhash(spark, sf_dir)
                            .collect()))
    assert stream_out == batch_out and len(stream_out) > 0


def test_passage_dup_spans_matches_python_model(spark):
    """Model test: on a seeded 80-doc corpus built from a shared phrase
    pool (forcing realistic boilerplate overlap), the Spark plan's spans
    equal an independent pure-Python recomputation of the definition —
    tokenize, k-gram, distinct-doc threshold, maximal-run merge."""
    import random
    import re
    from collections import defaultdict
    from clickhouse_hdfs_loader_spark.operators.dedup import passage_dup_spans

    rng = random.Random(20260814)
    pool = [" ".join(f"w{rng.randrange(40)}" for _ in range(rng.randrange(3, 9)))
            for _ in range(12)]
    texts = {d: " ".join(rng.choice(pool)
                         for _ in range(rng.randrange(1, 6)))
             for d in range(80)}
    k, min_docs = 3, 2

    toks = {d: [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
            for d, t in texts.items()}
    gram_docs = defaultdict(set)
    for d, ws in toks.items():
        for i in range(len(ws) - k + 1):
            gram_docs[" ".join(ws[i:i + k])].add(d)
    expect = []
    for d, ws in toks.items():
        marked = [i for i in range(len(ws) - k + 1)
                  if len(gram_docs[" ".join(ws[i:i + k])]) >= min_docs]
        run = []
        for p in marked + [None]:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    expect.append((d, run[0], run[-1] + k - 1, len(run)))
                run = [p] if p is not None else []
    docs = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    got = sorted(map(tuple, passage_dup_spans(docs, k=k,
                                              min_docs=min_docs).collect()))
    assert got == sorted(expect) and len(got) > 50


def test_semantic_dedup_gemm_path_matches_expr(spark, sf_dir):
    """The BLAS gemm assignment must yield the IDENTICAL semantic-dedup
    result as the oracle-replayable expression fold — the 100 TB path
    changes the compute kernel, never the outcome. Compared at m=8 where
    both kernels are cheap; forcing the fold at coarse-quantizer m is
    exactly the codegen cliff the gemm path exists to avoid (assignment
    parity at larger m is pinned in test_ivf_assign_gemm_matches_expr)."""
    from clickhouse_hdfs_loader_spark.operators.dedup import semantic_dedup
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    emb = read_table(spark, sf_dir, "embeddings")
    expr = sorted(map(tuple, semantic_dedup(
        emb, m=8, threshold=0.3, assign_method="expr").collect()))
    gemm = sorted(map(tuple, semantic_dedup(
        emb, m=8, threshold=0.3, assign_method="gemm").collect()))
    assert expr == gemm and len(expr) > 0


def test_run_expectations_null_and_agg_semantics(spark):
    """NULL predicate evaluations count as violations (unknown is not a
    pass); uniqueness counts surplus copies at the aggregate level; a
    check with both/neither predicate forms raises."""
    import pytest as PT
    from clickhouse_hdfs_loader_spark.operators import expectations as EX
    df = spark.createDataFrame(
        [(1, 10), (2, None), (2, 30), (3, 600)], "id long, v long")
    rep = {r["check_name"]: r for r in EX.run_expectations(df, [
        EX.not_null("v_not_null", "v"),
        EX.unique("id_unique", "id"),
        EX.between("v_in_range", "v", 1, 500),
    ]).collect()}
    assert rep["v_not_null"]["violations"] == 1
    assert rep["id_unique"]["violations"] == 1        # one surplus copy of 2
    # range check: 600 out of range + NULL (unknown → violation) = 2
    assert rep["v_in_range"]["violations"] == 2
    assert all(r["total_rows"] == 4 for r in rep.values())
    assert not rep["v_in_range"]["passed"]
    with PT.raises(ValueError, match="exactly one"):
        EX.run_expectations(df, [EX.Check("bad")]).collect()


@pytest.mark.parametrize("grade_dir", ["/root/testdata/sf0.001",
                                       "/root/testdata/sf0.01"])
def test_semantic_dedup_gemm_pair_kernel_parity(spark, grade_dir):
    """The per-cluster BLAS pair kernel (one S = M·Mᵀ per cluster) must
    reproduce the interpreted expression fold's output EXACTLY on both
    fixture scales — rounded cosines included — so swapping the scale
    kernel cannot change a grade."""
    from clickhouse_hdfs_loader_spark.operators.dedup import semantic_dedup
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    emb = read_table(spark, grade_dir, "embeddings")
    expr = sorted(map(tuple, semantic_dedup(
        emb, m=8, threshold=0.4, pair_kernel="expr").collect()))
    gemm = sorted(map(tuple, semantic_dedup(
        emb, m=8, threshold=0.4, pair_kernel="gemm").collect()))
    assert expr == gemm and len(expr) > 0


def test_leakage_safe_split_keeps_dup_families_together(spark, sf_dir):
    """Every near-dup pair (and transitively, every duplicate family)
    must land in ONE split; singletons must get exactly the naive
    hash-split assignment; all docs are assigned exactly once."""
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        leakage_safe_split)
    from clickhouse_hdfs_loader_spark.operators.dedup import minhash_lsh_pairs
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    import pyspark.sql.functions as SF
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    out = leakage_safe_split(docs, pairs)
    rows = out.collect()
    assert len(rows) == docs.count()
    split_of = {r["doc_id"]: r["split"] for r in rows}
    p = pairs.collect()
    assert p, "fixture should contain near-dup pairs"
    for r in p:
        assert split_of[r["id_a"]] == split_of[r["id_b"]]
    # singletons match the naive md5(doc_id) split exactly
    in_pairs = {r["id_a"] for r in p} | {r["id_b"] for r in p}
    naive = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id",
        SF.when((SF.conv(SF.substring(SF.md5(SF.col("doc_id").cast("string")),
                                      1, 4), 16, 10).cast("int") % 100) < 80,
                "train")
        .when((SF.conv(SF.substring(SF.md5(SF.col("doc_id").cast("string")),
                                    1, 4), 16, 10).cast("int") % 100) < 90,
              "val").otherwise("test").alias("s")).collect()}
    for d, s in split_of.items():
        if d not in in_pairs:
            assert s == naive[d]


def test_media_header_webp_and_flac():
    """WEBP (all three chunk variants) and FLAC STREAMINFO round-trip
    byte-exact through parse_media_header; printable-ASCII impersonators
    are rejected by the RIFF-size / block-type structural guards."""
    from clickhouse_hdfs_loader_spark.operators.multimodal import (
        build_flac, build_webp, parse_media_header)
    n_vp8 = len(build_webp(320, 200, "vp8"))
    assert parse_media_header(build_webp(320, 200, "vp8")) \
        == (n_vp8, 320, 200, 3, "webp")
    n_l = len(build_webp(1, 1, "vp8l"))
    assert parse_media_header(build_webp(1, 1, "vp8l")) \
        == (n_l, 1, 1, 3, "webp")
    n_x = len(build_webp(16384, 16384, "vp8x"))
    assert parse_media_header(build_webp(16384, 16384, "vp8x")) \
        == (n_x, 16384, 16384, 4, "webp")
    assert parse_media_header(build_flac(44100, 16, 2)) \
        == (42, 44100, 16, 2, "flac")
    assert parse_media_header(build_flac(192000, 24, 8)) \
        == (42, 192000, 24, 8, "flac")
    assert parse_media_header(
        b"RIFFabcdWEBPVP8L/abcd more printable text here") is None
    assert parse_media_header(
        b"fLaC is a lossless audio format, widely used!") is None


@pytest.mark.parametrize("grade_dir", ["/root/testdata/sf0.001",
                                       "/root/testdata/sf0.01"])
@pytest.mark.slow
def test_lsh_near_dup_arrow_kernel_parity(spark, grade_dir):
    """The arrow kernel (gemm signatures + numpy pair verification) must
    reproduce the expression kernel's pair set EXACTLY on both fixture
    scales — rounded cosines included."""
    from clickhouse_hdfs_loader_spark.operators.similarity import (
        lsh_near_dup_pairs)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    emb = read_table(spark, grade_dir, "embeddings")
    expr = sorted(map(tuple, lsh_near_dup_pairs(
        emb, threshold=0.4, bands=8, kernel="expr").collect()))
    arrow = sorted(map(tuple, lsh_near_dup_pairs(
        emb, threshold=0.4, bands=8, kernel="arrow").collect()))
    assert expr == arrow and len(expr) > 0


def test_kmeans_fit_gemm_assignment_same_centroids(spark, sf_dir):
    """Training with the gemm assignment kernel must yield BITWISE the
    same centroids as the expression fold (assignment parity + order-free
    fixed-point sums), so the whole trained-IVF pipeline can run gemm at
    scale without drifting from the oracle-replayable path."""
    from clickhouse_hdfs_loader_spark.operators.similarity import kmeans_fit
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    emb = read_table(spark, sf_dir, "embeddings")
    a = kmeans_fit(emb, k=8, iters=2, assign_method="expr")
    b = kmeans_fit(emb, k=8, iters=2, assign_method="gemm")
    assert a == b


def test_embedding_near_dup_arrow_kernel_parity(spark, sf_dir):
    """The arrow pair-scoring kernel reproduces the fold's brute-force
    near-dup pair set exactly on the fixture."""
    from clickhouse_hdfs_loader_spark.operators.dedup import (
        embedding_near_dup_pairs)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    emb = read_table(spark, sf_dir, "embeddings")
    e = sorted(map(tuple, embedding_near_dup_pairs(
        emb, threshold=0.4).collect()))
    a = sorted(map(tuple, embedding_near_dup_pairs(
        emb, threshold=0.4, kernel="arrow").collect()))
    assert e == a and len(e) > 0
    with pytest.raises(ValueError, match="unknown kernel"):
        embedding_near_dup_pairs(emb, kernel="nosuch")


def test_lsh_topk_arrow_kernel_parity(spark, sf_dir):
    """Arrow kernel top-k equals the expression kernel's exactly
    (deterministic tie-breaks make the whole ranked output comparable)."""
    from clickhouse_hdfs_loader_spark.operators.similarity import lsh_topk
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    import pyspark.sql.functions as SF
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(SF.col("vec_id") < 3)
    e = sorted(map(tuple, lsh_topk(emb, q, k=5, bands=8).collect()))
    a = sorted(map(tuple, lsh_topk(emb, q, k=5, bands=8,
                                   kernel="arrow").collect()))
    assert e == a and len(e) > 0
    with pytest.raises(ValueError, match="unknown kernel"):
        lsh_topk(emb, q, kernel="nosuch")


def test_bigram_likelihood_oracle_and_discrimination(spark, sf_dir):
    """The graded registry oracle, called the way the registry query
    calls the operator: the full train→score pipeline replays exactly in
    SQL on the real corpus. Discrimination: a doc of common continuations
    scores above a shuffled-word doc under the same model."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        bigram_likelihood)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents")
    got = sorted(map(tuple, bigram_likelihood(docs).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["bigram_likelihood"].oracle).fetchall()))
    assert got == want and len(got) > 0
    # discrimination on a held-out pair scored under the corpus model
    probe = spark.createDataFrame(
        [(100001, "the quick brown fox jumps over the lazy dog and "
                  "the quick brown fox jumps again"),
         (100002, "fox the jumps dog quick over brown lazy the and "
                  "again jumps fox brown quick the"),
         (100003, "word")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            bigram_likelihood(probe, model_docs=probe.where(
                F.col("doc_id") == 100001)).collect()}
    assert rows[100001]["score"] > rows[100002]["score"]
    # a sub-2-token doc still gets a row, at the harsh score-0 floor —
    # quality gates drop it visibly by threshold, not by silent absence
    assert (rows[100003]["score"], rows[100003]["n_bigrams"],
            rows[100003]["q_sum"]) == (0, 0, 0)


def test_anomaly_zscore_oracle_and_planted_spike(spark, sf_dir):
    """In-test DuckDB oracle: the hourly-count trailing z-score detector
    replays bit-exactly in SQL on the real events table (fixed-order
    sum/sum-sq variance, floor rounding). A planted ~50x spike on a
    low-noise synthetic series is the only flagged hour (an all-flat
    history has zero variance and is correctly excluded, hence the
    baseline jitter)."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.asof import anomaly_zscore
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    import datetime as dt
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, anomaly_zscore(ev, z_threshold=2.0).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["anomaly_zscore"].oracle).fetchall()))
    assert got == want
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for hr in range(48):
        burst = 500 if hr == 40 else 10 + hr % 3
        for i in range(burst):
            rows.append((eid, 1, "click",
                         base + dt.timedelta(hours=hr, seconds=i), 1.0))
            eid += 1
    synth = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double")
    hits = anomaly_zscore(synth, z_threshold=3.0).collect()
    assert [r["hour_epoch"] for r in hits] == \
        [int((base + dt.timedelta(hours=40)).replace(
            tzinfo=dt.timezone.utc).timestamp())]
    assert hits[0]["cnt"] == 500


def test_funnel_oracle_and_ordering_semantics(spark, sf_dir):
    """In-test DuckDB oracle for the strictly-ordered funnel on the real
    events table (earliest-completion semantics), plus a hand-built case
    proving order matters: a user with purchase BEFORE click does not
    convert."""
    import duckdb
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.analytics import funnel
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple,
                     funnel(ev, ["view", "click", "purchase"]).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["funnel"].oracle).fetchall()))
    assert got == want
    assert got[0][2] >= got[1][2] >= got[2][2] > 0   # monotone funnel
    t = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    synth = spark.createDataFrame(
        [(1, 1, "view", t, 1.0), (2, 1, "click", t + h, 1.0),
         (3, 1, "purchase", t + 2 * h, 1.0),
         # user 2: purchase BEFORE click — must not reach step 2
         (4, 2, "view", t, 1.0), (5, 2, "purchase", t + h, 1.0),
         (6, 2, "click", t + 2 * h, 1.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    by_step = {r["step"]: r["users"] for r in
               funnel(synth, ["view", "click", "purchase"]).collect()}
    assert by_step == {"view": 2, "click": 2, "purchase": 1}


def test_retention_cohorts_oracle(spark, sf_dir):
    """In-test DuckDB oracle for weekly cohort retention on the real
    events table; offset-0 rows equal cohort sizes."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        retention_cohorts)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, retention_cohorts(ev).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["retention_cohorts"].oracle).fetchall()))
    assert got == want and len(got) > 0


def test_funnel_conversion_window(spark):
    """windowFunnel(N)-style conversion window: a purchase 2h after the
    first view converts under a 3h window but not under a 1h window;
    the unwindowed funnel is unchanged by within_hours=None."""
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.analytics import funnel
    t = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    synth = spark.createDataFrame(
        [(1, 1, "view", t, 1.0), (2, 1, "click", t + h, 1.0),
         (3, 1, "purchase", t + 2 * h, 1.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    def users(wh):
        return {r["step"]: r["users"] for r in
                funnel(synth, ["view", "click", "purchase"],
                       within_hours=wh).collect()}
    assert users(None) == {"view": 1, "click": 1, "purchase": 1}
    assert users(3) == {"view": 1, "click": 1, "purchase": 1}
    assert users(1) == {"view": 1, "click": 1, "purchase": 0}


def test_incremental_rollup_matches_full_recompute(spark, sf_dir):
    """The materialized-view property: ingesting the events table in
    three disjoint batches and merging their partial rollups yields
    counts and cent-sums BITWISE equal to the from-scratch aggregate
    (integer state is order-free where float sums would drift), and the
    merged HLL distinct-user estimate lands within 5% of exact at every
    coarser serving grain."""
    from clickhouse_hdfs_loader_spark.operators.rollup import (
        build_rollup, merge_rollups, rollup_report)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    import pyspark.sql.functions as SF
    ev = read_table(spark, sf_dir, "events")
    full = build_rollup(ev)
    merged = merge_rollups(
        merge_rollups(build_rollup(ev.where(SF.col("event_id") % 3 == 0)),
                      build_rollup(ev.where(SF.col("event_id") % 3 == 1))),
        build_rollup(ev.where(SF.col("event_id") % 3 == 2)))
    cols = ["event_type", "day", "cnt", "sum_cents"]
    a = sorted(map(tuple, full.select(*cols).collect()))
    b = sorted(map(tuple, merged.select(*cols).collect()))
    assert a == b and len(a) > 0
    # serve per-type totals from state; distinct users as a 5% contract
    rep = {r["event_type"]: r for r in
           rollup_report(merged, ["event_type"]).collect()}
    exact = {r["event_type"]: r for r in
             ev.groupBy("event_type")
             .agg(SF.count(SF.lit(1)).alias("cnt"),
                  SF.count_distinct("user_id").alias("du")).collect()}
    assert set(rep) == set(exact)
    for t, r in rep.items():
        assert r["cnt"] == exact[t]["cnt"]
        assert abs(r["approx_users"] - exact[t]["du"]) \
            <= 0.05 * exact[t]["du"] + 1


def test_stream_rollup_matches_batch(spark, sf_dir):
    """foreachBatch rollup maintenance converges to the one-shot batch
    rollup exactly on the mergeable-integer state (HLL bytes are
    engine-path-dependent, so the sketch column is compared via its
    served estimate instead)."""
    from clickhouse_hdfs_loader_spark.operators.rollup import (
        build_rollup, rollup_report)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_rollup_maintenance)
    ev = read_table(spark, sf_dir, "events")
    batch = build_rollup(ev)
    streamed = stream_rollup_maintenance(spark, sf_dir)
    cols = ["event_type", "day", "cnt", "sum_cents"]
    assert sorted(map(tuple, streamed.select(*cols).collect())) == \
        sorted(map(tuple, batch.select(*cols).collect()))
    br = sorted(map(tuple, rollup_report(batch, ["event_type"]).collect()))
    sr = sorted(map(tuple,
                    rollup_report(streamed, ["event_type"]).collect()))
    assert br == sr


@pytest.mark.slow
def test_curate_pipeline_accounting_and_invariants(spark, sf_dir):
    """Composition test for the end-to-end curation pipeline (each stage
    is oracle-verified on its own): stage accounting sums to the input,
    survivors carry exactly one split, no two near-dup pair members
    straddle splits, every exact-duplicate loser is gone, and the train
    packing covers exactly the train split."""
    from clickhouse_hdfs_loader_spark.operators.corpus import curate
    from clickhouse_hdfs_loader_spark.operators.dedup import (
        exact_dedup, minhash_lsh_pairs)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    import pyspark.sql.functions as SF
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    curated, packed, report = curate(docs, emb, min_quality_score=1)
    r = report.collect()[0]
    assert r["input"] == docs.count()
    assert (r["input"] - r["dropped_quality"] - r["dropped_exact"]
            - r["dropped_semantic"]) == r["kept"]
    rows = curated.collect()
    assert len(rows) == r["kept"]
    assert {x["split"] for x in rows} <= {"train", "val", "test"}
    split_of = {x["doc_id"]: x["split"] for x in rows}
    for p in minhash_lsh_pairs(curated).collect():
        assert split_of[p["id_a"]] == split_of[p["id_b"]]
    # no exact duplicates survive curation
    k = exact_dedup(curated).collect()
    assert all(x["copies"] == 1 for x in k)
    # packing covers exactly the train split (per-bin doc accounting)
    train_n = sum(1 for x in rows if x["split"] == "train")
    assert sum(b["n_docs"] for b in packed.collect()) == train_n
    # the funnel-only mode (what the registry's curate_report grades)
    # yields the IDENTICAL report row — stages 4-5 never change the
    # accounting — with packed=None and no split column
    c2, p2, rep2 = curate(docs, emb, min_quality_score=1,
                          split_and_pack=False)
    assert tuple(rep2.collect()[0]) == tuple(r)
    assert p2 is None and "split" not in c2.columns
    assert c2.count() == r["kept"]


def test_media_header_heif_family():
    """HEIC/AVIF stills round-trip through the meta->iprp->ipco->ispe
    walk (meta is a FULL box — children start after version/flags); an
    alien ftyp brand and an mp4 are unaffected."""
    from clickhouse_hdfs_loader_spark.operators.multimodal import (
        build_heif, build_mp4, parse_media_header)
    hp = build_heif(1024, 768)
    assert parse_media_header(hp) == (len(hp), 1024, 768, 3, "heic")
    ap = build_heif(512, 200, b"avif")
    assert parse_media_header(ap) == (len(ap), 512, 200, 3, "avif")
    mp = build_mp4(640, 480)
    assert parse_media_header(mp)[1:] == (640, 480, 1, "mp4")
    alien = b"\x00\x00\x00\x14ftypabcd" + b"\x00" * 24
    assert parse_media_header(alien) is None


def test_incremental_minhash_big_family_not_capped(spark):
    """A duplicate family larger than minhash_lsh_pairs' 1000-id
    degenerate-bucket cap arriving in ONE batch must still self-dedup:
    the min-id copy is novel, every other copy is dup_batch (the capped
    pair query would have called all 1100 'novel' and appended every
    copy's index rows to the store)."""
    from clickhouse_hdfs_loader_spark.operators.dedup import (
        incremental_minhash_dedup, minhash_band_index)
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the river runs past the old stone mill every morning")
    store = spark.createDataFrame(
        [(1, "completely different content about spark adaptive execution "
             "plans shuffles partitions codegen arrow batches and buckets")],
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(100 + i, base) for i in range(1100)], ["doc_id", "text"])
    got = {r["doc_id"]: r["status"] for r in
           incremental_minhash_dedup(batch, minhash_band_index(store))
           .collect()}
    assert got[100] == "novel"
    assert all(got[100 + i] == "dup_batch" for i in range(1, 1100))


def test_cosine_pairs_udf_zero_norm_sentinel(spark):
    """Zero-norm vectors: 0/0 would be NaN, which Spark sorts ABOVE every
    double — a degenerate vector would pass every threshold and win every
    desc top-k. The arrow kernel must emit the -2.0 sentinel instead
    (below the cosine range, excluded by any threshold), mirroring the
    centroid=-1 stance; end-to-end, the brute arrow pair generator must
    never surface a zero-norm vector as a near-dup."""
    from clickhouse_hdfs_loader_spark.functions.vectors import (
        cosine_pairs_udf)
    pairs = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]),
         (2, [0.0, 0.0], [1.0, 0.0]),
         (3, [1.0, 0.0], [0.0, 0.0]),
         (4, [0.0, 0.0], [0.0, 0.0])],
        ["pid", "a", "b"])
    got = {r["pid"]: r["c"] for r in pairs.select(
        "pid", cosine_pairs_udf()(F.col("a"), F.col("b")).alias("c"))
        .collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == got[3] == got[4] == -2.0
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 1e-9, 0.0]),
         (3, [0.0, 0.0, 0.0])],
        ["vec_id", "embedding"])
    out = DD.embedding_near_dup_pairs(emb, threshold=0.9, kernel="arrow")
    assert sorted((r["id_a"], r["id_b"]) for r in out.collect()) == [(1, 2)]


def test_ngram_containment_oracle_and_asymmetry(spark, sf_dir):
    """In-test DuckDB oracle for shingle containment on the real corpus,
    plus the asymmetry case the operator exists for: a short doc wholly
    embedded in a long one has containment 1.0 while Jaccard stays
    below a typical near-dup threshold."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents")
    got = sorted(map(tuple,
                     ngram_containment_pairs(docs, threshold=0.5).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["ngram_containment"].oracle).fetchall()))
    assert got == want
    long_text = ("the quick brown fox jumps over the lazy dog while "
                 "rivers run past old stone mills every cold morning "
                 "and markets open under pale northern light")
    short_text = "rivers run past old stone mills every cold morning"
    synth = spark.createDataFrame(
        [(1, long_text), (2, short_text),
         (3, "entirely unrelated text about query planners and shuffles")],
        ["doc_id", "text"])
    cont = {(r["id_a"], r["id_b"]): r["cont_b_in_a"]
            for r in ngram_containment_pairs(synth, threshold=0.9).collect()}
    assert cont == {(1, 2): 1.0}       # short doc fully contained
    jac = ngram_jaccard_pairs(synth, threshold=0.5).collect()
    assert jac == []                   # symmetric jaccard never fires


def test_exact_median_by_group_oracle(spark, sf_dir):
    """Lower median is an element of the data, so Spark and DuckDB
    agree bit-for-bit with no interpolation caveat."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        exact_median_by_group)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    li = read_table(spark, sf_dir, "lineitem")
    got = sorted(map(tuple, exact_median_by_group(
        li, "l_linestatus", "l_quantity").collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{sf_dir}/lineitem.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["exact_median_by_group"].oracle).fetchall()))
    assert got == want and len(got) > 0
    # odd-count hand case: median of [1, 7, 9] is 7; even [1,3,5,9] -> 3
    synth = spark.createDataFrame(
        [("a", 9.0), ("a", 1.0), ("a", 7.0),
         ("b", 5.0), ("b", 1.0), ("b", 9.0), ("b", 3.0)], ["g", "v"])
    m = {r["g"]: r["median_lo"] for r in
         exact_median_by_group(synth, "g", "v").collect()}
    assert m == {"a": 7.0, "b": 3.0}


def test_tiff_header_roundtrip_both_byte_orders():
    for be in (False, True):
        p = MM.build_tiff(640, 480, 3, big_endian=be)
        assert MM.parse_media_header(p) == (50, 640, 480, 3, "tiff")
    p = MM.build_tiff(1, 65535, 1, big_endian=True)
    assert MM.parse_media_header(p) == (50, 1, 65535, 1, "tiff")
    # truncated IFD and zero-dimension files are rejected, not crashed
    assert MM.parse_media_header(MM.build_tiff(2, 2)[:20]) is None
    assert MM.parse_media_header(MM.build_tiff(0, 5)) is None
    # count>1 entries carry offsets, not values — must not decode
    import struct
    p_mut = bytearray(MM.build_tiff(9, 9))
    # first IFD entry (tag 256) starts at 10; count field at +4
    p_mut[14:18] = struct.pack("<I", 2)
    assert MM.parse_media_header(bytes(p_mut)) is None


def test_seeded_shuffle_oracle_and_written_order(spark, sf_dir, tmp_path):
    """The seeded shuffle order replays exactly in SQL (xxhash64 is the
    same function both engines... DuckDB lacks xxhash64, so the oracle
    is Spark-free determinism instead: two sessions'/plans' orders are
    identical, a different seed produces a different order, and the
    written range layout replays the global order when files are read
    in name order."""
    import os
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        seeded_shuffle, write_shuffled)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents")
    a = [r["doc_id"] for r in seeded_shuffle(docs, with_position=True)
         .orderBy("shuffle_pos").collect()]
    b = [r["doc_id"] for r in seeded_shuffle(docs.repartition(7),
                                             with_position=True)
         .orderBy("shuffle_pos").collect()]
    assert a == b and len(a) == docs.count()   # partitioning-invariant
    c = [r["doc_id"] for r in seeded_shuffle(docs, seed=43,
                                             with_position=True)
         .orderBy("shuffle_pos").collect()]
    assert c != a and sorted(c) == sorted(a)   # new epoch, same corpus
    path = str(tmp_path / "shuffled")
    write_shuffled(docs, path, num_files=4)
    seen = []
    import pyarrow.parquet as pq
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            seen.extend(pq.read_table(os.path.join(path, name))
                        .column("doc_id").to_pylist())
    assert seen == a                           # file order replays globally


def test_bpe_train_matches_independent_sennrich_replay(spark, sf_dir):
    """The distributed merge sequence is pinned against an independent
    pure-Python Sennrich (2016) implementation over the same word
    frequencies (same stance as the murmur goldens: re-derive the truth
    Spark-free), and encoding round-trips the text."""
    import re
    from collections import Counter
    from clickhouse_hdfs_loader_spark.operators.bpe import (
        bpe_encode, bpe_train)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=8)
    assert len(merges) == 8

    wc = Counter()
    for (text,) in docs.select("text").collect():
        wc.update(re.findall(r"[a-z0-9]+", text.lower()))
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in wc.items()}
    want = []
    for _ in range(8):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), total = min(pairs.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if total < 2:
            break
        want.append((a, b))
        new_vocab = {}
        for syms, c in vocab.items():
            res, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + c
        vocab = new_vocab
    assert merges == want

    enc = bpe_encode(docs.limit(20), merges)
    for r in enc.collect():
        assert r["n_tokens"] == len(r["tokens"]) > 0
    # round-trip: concatenated tokens reproduce the word stream
    sample = docs.limit(5).collect()
    enc_map = {r["doc_id"]: r["tokens"] for r in
               bpe_encode(docs.limit(5), merges).collect()}
    for row in sample:
        words = re.findall(r"[a-z0-9]+", row["text"].lower())
        joined = "".join(enc_map[row["doc_id"]])
        assert joined == "".join(w + "</w>" for w in words)


def test_bpe_train_survives_full_word_collapse(spark):
    """A corpus whose most frequent word fully merges into ONE symbol
    (e.g. 'ab</w>') must not crash the pair scan — the r7 ADVICE repro:
    F.sequence(0, size-2) on a 1-element array is [0, -1] and syms[i+1]
    trips ANSI INVALID_ARRAY_INDEX. Asking for more merges than exist
    must also terminate via the early-stop."""
    import re
    from collections import Counter
    from clickhouse_hdfs_loader_spark.operators.bpe import bpe_train
    docs = spark.createDataFrame(
        [(i, "ab ab ab ab cd cd") for i in range(4)],
        "doc_id long, text string")
    merges = bpe_train(docs, num_merges=50, min_pair_count=2)
    # replay independently: 'ab'->a+b merges then 'ab'+'</w>' collapses
    # the word to one symbol; same for 'cd'
    wc = Counter()
    for _ in range(4):
        wc.update(re.findall(r"[a-z0-9]+", "ab ab ab ab cd cd"))
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in wc.items()}
    want = []
    while True:
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), total = min(pairs.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if total < 2:
            break
        want.append((a, b))
        nv = {}
        for syms, c in vocab.items():
            res, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            nv[tuple(res)] = nv.get(tuple(res), 0) + c
        vocab = nv
    assert merges == want
    assert ("ab", "</w>") in merges      # a word really did collapse


def test_pack_token_budget_with_bpe_counts(spark, sf_dir):
    """pack_token_budget consumes bpe_encode's exact token counts via
    count_col — bins differ from the whitespace estimate (BPE emits
    subwords + end markers) and bin token sums still respect the
    cumulative-start invariant."""
    from clickhouse_hdfs_loader_spark.operators.bpe import (
        bpe_encode, bpe_train)
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        pack_token_budget)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=4)
    counted = docs.join(bpe_encode(docs, merges)
                        .select("doc_id", "n_tokens"), "doc_id")
    packed = pack_token_budget(counted, budget=512,
                               count_col="n_tokens").collect()
    assert packed and all(r["n_docs"] > 0 for r in packed)
    total_docs = sum(r["n_docs"] for r in packed)
    assert total_docs == docs.count()
    baseline = pack_token_budget(docs, budget=512).collect()
    assert (sum(r["bin_tokens"] for r in packed)
            > sum(r["bin_tokens"] for r in baseline))  # subword inflation


def test_heavy_hitters_exact_with_certificate(spark, sf_dir):
    """Two-pass Misra-Gries top-k equals the exact full-shuffle top-k
    (DuckDB oracle) whenever the certificate passes; an undersized
    capacity on adversarially flat data raises instead of silently
    approximating; capacity above the distinct count is trivially exact
    with no evictions."""
    import duckdb
    import pytest as PT
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        heavy_hitters)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, heavy_hitters(ev, "event_type", k=3,
                                          capacity=64).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["heavy_hitters"].oracle).fetchall()))
    assert got == want and len(got) == 3
    # flat distribution + tiny capacity: no value can certify -> raises
    flat = spark.range(0, 5000).select(
        (F.col("id") % 2500).cast("string").alias("v"))
    with PT.raises(ValueError, match="certificate"):
        heavy_hitters(flat, "v", k=3, capacity=4)
    # skewed head + small capacity: head certifies and is exact
    skew = spark.range(0, 3000).select(
        F.when(F.col("id") % 3 != 0, F.lit("hot"))
        .otherwise((F.col("id") % 7).cast("string")).alias("v"))
    top1 = heavy_hitters(skew, "v", k=1, capacity=16).collect()
    assert top1[0]["value"] == "hot" and top1[0]["cnt"] == 2000


def test_event_transitions_oracle_and_tiebreak(spark, sf_dir):
    """In-test DuckDB oracle for the first-order Markov transition
    matrix on the real events table (integer milli probabilities replay
    hash-exactly), plus a synthetic stream proving the (ts, event_id)
    tie-break pins equal-timestamp neighbor order."""
    import duckdb
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        event_transitions)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, event_transitions(ev).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["event_transitions"].oracle).fetchall()))
    assert got == want and len(got) > 0
    # per-row normalization: milli probs over a from_type sum to <= 1000
    # and within 1 milli per to_type of it (pure floor loss)
    by_from: dict = {}
    for from_type, _to, _n, p in got:
        by_from.setdefault(from_type, []).append(p)
    for ps in by_from.values():
        assert 1000 - len(ps) <= sum(ps) <= 1000
    # synthetic: user 1 has two events at the SAME ts — event_id orders
    # them, so a->b->c, never a->c
    t0 = dt.datetime(2024, 1, 1)
    synth = spark.createDataFrame(
        [(1, 1, "a", t0, 1.0), (2, 1, "b", t0, 1.0),
         (3, 1, "c", t0 + dt.timedelta(hours=1), 1.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    rows = {(r["from_type"], r["to_type"]): (r["n"], r["p_milli"])
            for r in event_transitions(synth).collect()}
    assert rows == {("a", "b"): (1, 1000), ("b", "c"): (1, 1000)}


def _ilog2_milli_truth(x: int) -> int:
    e = x.bit_length() - 1
    return e * 1000 + ((x - (1 << e)) * 1000) // (1 << e)


def test_ilog2_milli_exponent_edges(spark):
    """with_ilog2_milli's r16 log2+shift-correction exponent equals the
    bit-length truth on every power-of-two boundary of the documented
    domain (1 <= x < 2^54; beyond it the interior *1000 product
    ANSI-raises, pre-r16 behaviour included) — the exact values where
    the double log2 could floor one off — plus the out-of-domain
    contract (x = 0 keeps the historical -1000, NULL stays NULL)."""
    from clickhouse_hdfs_loader_spark.operators.retrieval import (
        with_ilog2_milli)

    xs = [1, 2, 3]
    for e in range(1, 54):
        xs += [(1 << e) - 1, 1 << e, (1 << e) + 1]
    xs = sorted({x for x in xs if x < (1 << 54)})
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    got = {r["x"]: r["lg"]
           for r in with_ilog2_milli(df, "x", "lg").collect()}
    for x in xs:
        assert got[x] == _ilog2_milli_truth(x), (x, got[x])

    degen = spark.createDataFrame([(0,), (None,)], "x long")
    vals = {r["x"]: r["lg"]
            for r in with_ilog2_milli(degen, "x", "lg").collect()}
    assert vals[0] == -1000 and vals[None] is None

    # the up-correction gate at _e0 = 62: x = 2^62 keeps e = 62 (the
    # old conv() value) instead of wrapping shiftleft(1, 63) to
    # INT64_MIN (review-caught r16)
    top = spark.createDataFrame([(1 << 62,)], "x long")
    assert with_ilog2_milli(top, "x", "lg").collect()[0]["lg"] == 62000


def test_ilog2_milli_reserved_columns(spark):
    """with_ilog2_milli's scratch columns (_e0, _e, _p) must not silently
    overwrite and then drop a caller's column of the same name."""
    from clickhouse_hdfs_loader_spark.operators.retrieval import (
        with_ilog2_milli)

    for name in ("_e0", "_e", "_p"):
        df = spark.createDataFrame([(5, 7)], f"x long, {name} long")
        with pytest.raises(ValueError, match="reserved"):
            with_ilog2_milli(df, "x", "lg")
    df = spark.createDataFrame([(5,)], "x long")
    with pytest.raises(ValueError, match="reserved"):
        with_ilog2_milli(df, "x", "_p")
    assert with_ilog2_milli(df, "x", "lg").columns == ["x", "lg"]


def test_ilog2_milli_interior_sweep(spark):
    """with_ilog2_milli equals the bit-length truth on a seeded sample of
    the domain's interior: 2 000 values of 1 <= x < 2^54, log-uniform
    over octaves (exponent uniform in 0..53, mantissa bits uniform), so
    every bit of x is exercised, not only the power-of-two edges."""
    import random

    from clickhouse_hdfs_loader_spark.operators.retrieval import (
        with_ilog2_milli)

    rng = random.Random(54)
    exps = [rng.randrange(54) for _ in range(2000)]
    xs = [rng.randrange(1 << e, 2 << e) for e in exps]
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    rows = with_ilog2_milli(df, "x", "lg").collect()
    assert sorted(r["x"] for r in rows) == sorted(xs)
    bad = [(r["x"], r["lg"]) for r in rows
           if r["lg"] != _ilog2_milli_truth(r["x"])]
    assert not bad, bad[:10]


def test_bm25_topk_oracle_and_ranking(spark, sf_dir):
    """In-test DuckDB oracle for quantized-rational BM25 top-k on the
    real documents table (full pipeline: tokenize -> postings ->
    integer milli-log2 idf -> per-query rank window replays
    hash-exactly), plus a synthetic discrimination check: the doc
    containing the rare query term outranks term-free docs entirely."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.retrieval import (
        bm25_topk, with_ilog2_milli)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    # milli-log2 helper: exact integer endpoints, linear interior
    probe = spark.createDataFrame(
        [(1,), (2,), (3,), (1000000,)], "x long")
    got_lg = dict((r["x"], r["lg"]) for r in
                  with_ilog2_milli(probe, "x", "lg").collect())
    assert got_lg == {1: 0, 2: 1000, 3: 1500, 1000000: 19907}

    docs = read_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(1, "vector hash join"), (2, "customer order stream"),
         (3, "zzzunseen fast fast")],   # dup + unknown query terms
        "query_id long, query_text string")
    got = sorted(map(tuple, bm25_topk(docs, queries, k=10).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["bm25_topk"].oracle).fetchall()))
    assert got == want and len(got) > 0
    # every query with any in-vocabulary term produced a full page
    from collections import Counter
    per_q = Counter(q for q, *_ in got)
    assert per_q[1] == 10 and per_q[2] == 10 and per_q[3] == 10

    # discrimination: only banana-bearing docs surface; the focused one
    # (higher tf density) outranks the diluted one
    synth = spark.createDataFrame(
        [(1, "banana banana apple"), (2, "apple pear plum grape melon"),
         (3, "banana apple pear plum grape melon kiwi fig date lime")],
        "doc_id long, text string")
    qs = spark.createDataFrame([(7, "banana")],
                               "query_id long, query_text string")
    rows = bm25_topk(synth, qs, k=5).collect()
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])] \
        == [1, 3]


def test_kfold_assign_oracle_balance_determinism(spark, sf_dir):
    """In-test DuckDB oracle: the md5-prefix fold coin replays exactly
    in SQL; folds are in range, deterministic across invocations, and
    per-stratum balanced within hash noise."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        kfold_assign, kfold_counts)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents")
    assigned = kfold_assign(docs, k=3, seed=42)
    got = sorted((r["doc_id"], r["fold"]) for r in
                 assigned.select("doc_id", "fold").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["kfold_assign"].oracle).fetchall()))
    assert got == want and len(got) == 500
    assert {f for _i, f in got} == {0, 1, 2}
    # deterministic: a second independent plan produces the same folds
    again = sorted((r["doc_id"], r["fold"]) for r in
                   kfold_assign(read_table(spark, sf_dir, "documents"),
                                k=3, seed=42)
                   .select("doc_id", "fold").collect())
    assert again == got
    # per-stratum balance: every (source, fold) cell populated, within
    # hash noise of n_stratum/k
    cells = {(r["source"], r["fold"]): r["n"]
             for r in kfold_counts(assigned).collect()}
    assert len(cells) == 60           # 20 sources x 3 folds
    for (_s, _f), n in cells.items():
        assert 1 <= n <= 25           # 25/3 = 8.3 expected per cell
    # a different seed reshuffles membership
    other = sorted((r["doc_id"], r["fold"]) for r in
                   kfold_assign(docs, k=3, seed=43)
                   .select("doc_id", "fold").collect())
    assert other != got


def test_time_weighted_avg_oracle_and_hand_case(spark, sf_dir):
    """In-test DuckDB oracle for integer-exact TWAP on the real events
    table, plus a hand case with known durations and a singleton series
    emitting NULL (not vanishing)."""
    import duckdb
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.asof import (
        time_weighted_avg)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, time_weighted_avg(ev).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["time_weighted_avg"].oracle).fetchall()))
    assert got == want and len(got) > 0
    # hand case: v=1.0 held 3s then v=5.0 held 1s -> (1000*3e6 + 5000*1e6)
    # div 4e6 = 2000; series 'solo' has one event -> den 0, NULL twap
    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    synth = spark.createDataFrame(
        [(1, 1, "a", t0, 1.0), (2, 1, "a", t0 + 3 * s, 5.0),
         (3, 1, "a", t0 + 4 * s, 9.0),
         (4, 2, "solo", t0, 7.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    rows = {r["event_type"]: (r["num"], r["den"], r["twap_milli"])
            for r in time_weighted_avg(synth).collect()}
    assert rows["a"] == (1000 * 3_000_000 + 5000 * 1_000_000,
                         4_000_000, 2000)
    assert rows["solo"] == (0, 0, None)


def test_feature_scaling_oracles_and_ranges(spark, sf_dir):
    """In-test DuckDB oracles for per-dimension stats, min-max
    normalization and mean-centering on the real embeddings table
    (micro-quantize -> integer aggregate -> identical floor-division
    expression order replays hash-exactly), plus range/attainment
    invariants and the train-stats-applied-to-eval direction."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.features import (
        dimension_stats, minmax_normalize, mean_center)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf_dir}/embeddings.parquet'")
    con.execute("""
        CREATE VIEW x AS
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings WHERE embedding IS NOT NULL""")
    con.execute("""
        CREATE VIEW st AS
        SELECT dim, min(q) AS qmin, max(q) AS qmax,
               CAST(sum(q) AS BIGINT) AS qsum, count(q) AS n
        FROM x GROUP BY dim""")

    got_st = sorted(map(tuple, dimension_stats(emb).collect()))
    want_st = sorted(map(tuple, con.execute(
        "SELECT dim, qmin, qmax, qsum, CAST(n AS BIGINT) FROM st"
    ).fetchall()))
    assert got_st == want_st and len(got_st) > 0

    got_nv = {r["vec_id"]: list(r["normalized"]) for r in
              minmax_normalize(emb.where(F.col("embedding").isNotNull()))
              .select("vec_id", "normalized").collect()}
    # NULL-element branch FIRST and NULL-vector rows excluded on both
    # sides — the registry oracle's drift-hardened shape (the operator
    # keeps NULL elements NULL even in constant dims)
    want_nv = dict(con.execute("""
        SELECT vec_id,
               array_agg(CASE WHEN q IS NULL THEN NULL
                         WHEN qmax - qmin = 0 THEN 0
                         ELSE CAST(floor(CAST((q - qmin) * 1000 AS DOUBLE)
                                   / (qmax - qmin)) AS BIGINT) END
                         ORDER BY dim) AS normalized
        FROM x JOIN st USING (dim) GROUP BY vec_id
    """).fetchall())
    # the operator contract for NULL vectors: pass through, out NULL
    withnull = spark.createDataFrame([(999999, None)],
                                     "vec_id long, embedding array<float>")
    st_emb = dimension_stats(emb)
    nr = minmax_normalize(withnull, stats=st_emb).collect()[0]
    assert nr["normalized"] is None
    assert got_nv == want_nv and len(got_nv) > 0
    # range + attainment: every value in [0,1000]; each dim attains both
    dims = len(got_st)
    lo_hit, hi_hit = [False] * dims, [False] * dims
    for v in got_nv.values():
        for d, m in enumerate(v):
            assert 0 <= m <= 1000
            lo_hit[d] |= m == 0
            hi_hit[d] |= m == 1000
    assert all(lo_hit) and all(hi_hit)

    got_c = {r["vec_id"]: list(r["centered_micro"]) for r in
             mean_center(emb).select("vec_id", "centered_micro")
             .collect()}
    want_c = dict(con.execute("""
        WITH m AS (SELECT dim,
                          CAST(CASE WHEN qsum >= 0 THEN qsum // n
                               ELSE -((-qsum) // n) END AS BIGINT) AS mu
                   FROM st)
        SELECT vec_id, array_agg(q - mu ORDER BY dim)
        FROM x JOIN m USING (dim) GROUP BY vec_id
    """).fetchall())
    assert got_c == want_c
    # centering: per-dim sum of centered values within n of zero
    # (pure truncation residue)
    n_rows = len(got_c)
    for d in range(dims):
        assert abs(sum(v[d] for v in got_c.values())) <= n_rows

    # leakage-correct direction: eval rows scaled with TRAIN stats only
    train = emb.where(F.col("vec_id") % 2 == 0)
    eval_ = emb.where(F.col("vec_id") % 2 == 1)
    st_train = dimension_stats(train)
    out = minmax_normalize(eval_, stats=st_train).select("normalized")
    vals = [m for r in out.collect() for m in r["normalized"]]
    # train min/max need not bound eval — values may leave [0,1000],
    # which is exactly the honest no-leakage behavior
    assert len(vals) > 0 and all(isinstance(m, int) for m in vals)


def test_stream_event_transitions_matches_batch(spark, sf_dir):
    """The foreachBatch transition-matrix twin reproduces the batch
    operator exactly on the real events table."""
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        event_transitions)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_event_transitions)
    batch = sorted(map(tuple, event_transitions(
        read_table(spark, sf_dir, "events")).collect()))
    stream = sorted(map(tuple,
                        stream_event_transitions(spark, sf_dir).collect()))
    assert stream == batch and len(stream) > 0


@pytest.mark.slow
def test_transitions_incremental_equals_one_shot_any_in_order_split(spark):
    """For ANY event log and ANY in-order batch split, folding batches
    through transitions_update (with the carried last-event boundary
    rows) equals the one-shot transition counts — hypothesis-driven
    over random logs and split counts."""
    import datetime as dt
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        transition_counts, transitions_update)

    t0 = dt.datetime(2024, 1, 1)
    schema = ("event_id long, user_id long, event_type string, "
              "ts timestamp, value double")

    @given(st.lists(st.tuples(st.integers(0, 3),       # user
                              st.integers(0, 2),       # type index
                              st.integers(0, 5)),      # ts jitter (dups ok)
                    min_size=1, max_size=30),
           st.integers(1, 4))
    @settings(max_examples=10, deadline=None)
    def check(evs, nbatch):
        rows = [(i, u, f"t{y}", t0 + dt.timedelta(seconds=j), 1.0)
                for i, (u, y, j) in enumerate(evs)]
        full = spark.createDataFrame(rows, schema)
        one_shot = sorted(map(tuple, transition_counts(full).collect()))
        # in-order split: global (ts, event_id) order preserves per-user
        # order; contiguous chunks of that order are valid batches
        ordered = sorted(rows, key=lambda r: (r[3], r[0]))
        cuts = sorted({(i * len(ordered)) // nbatch
                       for i in range(1, nbatch)})
        counts, last = None, None
        lo = 0
        for hi in cuts + [len(ordered)]:
            if hi == lo:
                continue
            bdf = spark.createDataFrame(ordered[lo:hi], schema)
            counts, last = transitions_update(counts, last, bdf)
            counts = counts.localCheckpoint(eager=True)
            last = last.localCheckpoint(eager=True)
            lo = hi
        got = sorted(map(tuple, counts.collect()))
        assert got == one_shot

    check()


def test_exact_quantiles_by_group_oracle(spark, sf_dir):
    """In-test DuckDB oracle for exact lower quantiles per group on the
    real events table; q=500 coincides with exact_median_by_group, and
    extreme fractions clamp to min/max elements."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        exact_median_by_group, exact_quantiles_by_group)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, exact_quantiles_by_group(
        ev, "event_type", "value", (0, 250, 500, 750, 1000)).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["exact_quantiles_by_group"].oracle).fetchall()))
    assert got == want and len(got) > 0
    med = {(r[0], r[1]) for r in
           exact_median_by_group(ev, "event_type", "value").collect()}
    assert {(g, v) for g, q, v in got if q == 500} == med
    # clamps: q=0 is the min element, q=1000 the max
    import collections
    by_g = collections.defaultdict(dict)
    for g, q, v in got:
        by_g[g][q] = v
    for g, qs in by_g.items():
        assert qs[0] <= qs[250] <= qs[500] <= qs[750] <= qs[1000]


def test_asof_join_forward_oracle_and_equal_ts(spark, sf_dir):
    """Forward as-of (closes the long-declared backward-only limit):
    every click carries the NEXT purchase value of the same user,
    oracled against DuckDB's native forward ASOF JOIN; an equal-ts
    synthetic case pins >= inclusivity on both sides."""
    import duckdb
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.asof import asof_join
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    e = read_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click")
    purchases = e.where(F.col("event_type") == "purchase")
    out = asof_join(clicks, purchases, key="user_id", ts="ts",
                    value_cols=["value"], direction="forward")
    got = sorted((r["event_id"], r["next_purchase_value"]) for r in
                 out.select("event_id",
                            F.round(F.coalesce("asof_value", F.lit(-1.0)),
                                    2).alias("next_purchase_value"))
                 .collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute("""
        SELECT c.event_id,
               round(coalesce(p.value, -1.0), 2) AS next_purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events
                        WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts <= p.ts
    """).fetchall()))
    assert got == want and len(got) > 0

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    left = spark.createDataFrame(
        [(1, 10, t0), (2, 10, t0 + 5 * s)],
        "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(10, t0, 7.0), (10, t0 + 5 * s, 9.0)],
        "user_id long, ts timestamp, value double")
    fwd = {r["event_id"]: r["asof_value"] for r in
           asof_join(left, right, "user_id", "ts", ["value"],
                     direction="forward").collect()}
    assert fwd == {1: 7.0, 2: 9.0}   # equal ts matches inclusively
    bwd = {r["event_id"]: r["asof_value"] for r in
           asof_join(left, right, "user_id", "ts", ["value"],
                     direction="backward").collect()}
    assert bwd == {1: 7.0, 2: 9.0}


def test_sequence_match_oracle_and_order_semantics(spark, sf_dir):
    """In-test DuckDB oracle for the per-user ordered-subsequence flag
    on the real events table; matched count ties out to the funnel's
    terminal step; order matters on a hand case."""
    import duckdb
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        funnel, sequence_match)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    got = sorted(map(tuple, sequence_match(ev, steps).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute("""
        WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s1 AS (SELECT e.user_id, min(e.ts) AS t
               FROM events e JOIN s0 USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t
               FROM events e JOIN s1 USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1)
        SELECT DISTINCT user_id,
               user_id IN (SELECT user_id FROM s2) AS matched
        FROM events
    """).fetchall()))
    assert got == want and len(got) > 0
    n_matched = sum(1 for _u, m in got if m)
    fun = {r["step"]: r["users"] for r in funnel(ev, steps).collect()}
    assert n_matched == fun["purchase"] > 0

    t = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    synth = spark.createDataFrame(
        [(1, 1, "a", t, 1.0), (2, 1, "b", t + h, 1.0),
         (3, 2, "b", t, 1.0), (4, 2, "a", t + h, 1.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    rows = {r["user_id"]: r["matched"] for r in
            sequence_match(synth, ["a", "b"]).collect()}
    assert rows == {1: True, 2: False}


def test_linreg_by_group_oracle_and_perfect_line(spark, sf_dir):
    """In-test DuckDB oracle for per-group least squares on the real
    events table (integer sufficient statistics + fixed-order double
    combine replays hash-exactly); a perfect synthetic line recovers its
    slope exactly and a single-instant group yields NULL."""
    import duckdb
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        linreg_by_group)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, linreg_by_group(ev).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["linreg_by_group"].oracle).fetchall()))
    assert got == want and len(got) > 0

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    synth = spark.createDataFrame(
        [(i, 1, "line", t0 + i * s, 2.5 * i) for i in range(10)]
        + [(99, 1, "instant", t0, 5.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    rows = {r["event_type"]: r["slope_micro_per_s"]
            for r in linreg_by_group(synth).collect()}
    assert rows["line"] == 2_500_000   # 2.5 value/s = 2500 milli/s
    assert rows["instant"] is None


def test_winsorize_by_group_oracle_and_bounds(spark, sf_dir):
    """In-test DuckDB oracle for per-group winsorization on the real
    events table; clamped values stay inside the per-group exact
    quantile bounds and interior values pass through untouched."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        winsorize_by_group)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    out = winsorize_by_group(ev, "event_type", "value")
    got = sorted((r["event_id"], round(r["winsorized"], 6)) for r in
                 out.select("event_id", "winsorized").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute("""
        WITH r AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM events WHERE value IS NOT NULL),
        b AS (
          SELECT event_type,
                 min(CASE WHEN rn = greatest(1, (n * 10 + 999) // 1000)
                     THEN value END) AS lo,
                 min(CASE WHEN rn = greatest(1, (n * 990 + 999) // 1000)
                     THEN value END) AS hi
          FROM r GROUP BY 1)
        SELECT e.event_id,
               round(CASE WHEN e.value IS NULL THEN NULL
                     ELSE greatest(b.lo, least(b.hi, e.value)) END,
                     6) AS winsorized
        FROM events e LEFT JOIN b USING (event_type)
    """).fetchall()))
    assert got == want and len(got) > 0
    # interior rows untouched, tails clamped to data elements
    rows = out.select("event_type", "value", "winsorized").collect()
    changed = [r for r in rows if r["value"] is not None
               and r["winsorized"] != r["value"]]
    assert 0 < len(changed) < len(rows) * 0.05   # ~2% tails at 10/990
    for r in changed:
        assert r["winsorized"] in (
            min(r["winsorized"], r["value"]), max(r["winsorized"],
                                                  r["value"]))


def test_key_skew_report_oracle_and_salting_advice(spark, sf_dir):
    """In-test DuckDB oracle for the one-row skew report on the real
    events table keyed by user; a synthetic hot key yields the expected
    salt count."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        key_skew_report)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events")
    got = [tuple(r) for r in key_skew_report(ev, "user_id").collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = [tuple(r) for r in con.execute(
        REGISTRY["key_skew_report"].oracle).fetchall()]
    assert got == want and len(got) == 1

    # synthetic: one key holds half the rows -> at parallelism 8 the hot
    # key must split ~4 ways
    hot = spark.createDataFrame(
        [(1, "hot")] * 500 + [(i, f"k{i}") for i in range(2, 502)],
        "event_id long, k string")
    r = key_skew_report(hot, "k", parallelism=8).collect()[0]
    assert r["n_rows"] == 1000 and r["max_cnt"] == 500
    assert r["top_share_milli"] == 500
    assert r["suggested_salts"] == 4


@pytest.mark.slow
def test_review_fixes_degenerate_paths(spark):
    """Regression pins for the r7 review findings: (a) as-of must return
    the NEAREST right row's NULL value, not skip to a farther row — and
    take all value_cols from the SAME row; (b) key_skew_report emits its
    one-row contract even on empty input; (c) NULL ids fold to NULL (not
    a silent shared fold); (d) a dimension with zero non-NULL values
    normalizes to 0, not a crash."""
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.asof import asof_join
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        key_skew_report)
    from clickhouse_hdfs_loader_spark.operators.corpus import kfold_assign
    from clickhouse_hdfs_loader_spark.operators.features import (
        minmax_normalize)

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    left = spark.createDataFrame([(1, 10, t0 + 3 * s)],
                                 "event_id long, user_id long, "
                                 "ts timestamp")
    right = spark.createDataFrame(
        [(10, t0 + 4 * s, None, "a"), (10, t0 + 6 * s, 9.0, "b")],
        "user_id long, ts timestamp, value double, tag string")
    fwd = asof_join(left, right, "user_id", "ts", ["value", "tag"],
                    direction="forward").collect()[0]
    # nearest match (ts=4s) wins even though its value is NULL; tag
    # comes from the SAME row
    assert fwd["asof_value"] is None and fwd["asof_tag"] == "a"
    right_b = spark.createDataFrame(
        [(10, t0 + 1 * s, 7.0, "x"), (10, t0 + 2 * s, None, "y")],
        "user_id long, ts timestamp, value double, tag string")
    bwd = asof_join(left, right_b, "user_id", "ts", ["value", "tag"],
                    direction="backward").collect()[0]
    assert bwd["asof_value"] is None and bwd["asof_tag"] == "y"

    # NULL-ts rows (either side) must never produce a phantom match
    right_n = spark.createDataFrame(
        [(10, None, 5.0, "n")],
        "user_id long, ts timestamp, value double, tag string")
    nb = asof_join(left, right_n, "user_id", "ts", ["value", "tag"],
                   direction="backward").collect()[0]
    nf = asof_join(left, right_n, "user_id", "ts", ["value", "tag"],
                   direction="forward").collect()[0]
    assert nb["asof_value"] is None and nf["asof_value"] is None
    left_n = spark.createDataFrame(
        [(5, 10, None)], "event_id long, user_id long, ts timestamp")
    lf = asof_join(left_n, right, "user_id", "ts", ["value", "tag"],
                   direction="forward").collect()[0]
    assert lf["asof_value"] is None and lf["asof_tag"] is None

    empty = spark.createDataFrame([], "k string")
    r = key_skew_report(empty, "k").collect()
    assert len(r) == 1 and r[0]["n_rows"] == 0 and r[0]["n_keys"] == 0
    assert r[0]["suggested_salts"] is None

    docs = spark.createDataFrame([(1,), (None,), (None,)], "doc_id long")
    folds = [r["fold"] for r in
             kfold_assign(docs, k=3).orderBy("doc_id").collect()]
    assert folds[0] is None and folds[1] is None and folds[2] is not None

    emb = spark.createDataFrame(
        [(1, [0.5, None, 0.1]), (2, [0.7, None, 0.9])],
        "vec_id long, embedding array<float>")
    out = {r["vec_id"]: list(r["normalized"]) for r in
           minmax_normalize(emb).collect()}
    # dim 1 has zero non-NULL values -> pinned to 0... but the element
    # itself is NULL, so the zip lambda yields NULL - 0 = NULL
    assert out[1][0] == 0 and out[2][0] == 1000
    assert out[1][1] is None and out[2][1] is None
    assert out[1][2] == 0 and out[2][2] == 1000


@pytest.mark.slow
def test_fuzzy_join_planted_recall_and_exactness(spark, sf_dir):
    """Cross-table fuzzy join: plant perturbed copies of real documents
    as the right table; every emitted pair must appear in a DuckDB
    brute-force exact-jaccard oracle (no false positives — verification
    is exact), every planted twin must be found (recall at this
    similarity level), and fuzzy_join_best returns exactly one
    deterministic best match per left row."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.linkage import (
        fuzzy_join, fuzzy_join_best)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 100).select("doc_id", "text")
    right = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzextra zzzmore")).alias("text"))

    # 16 bands x 2 rows: P(block miss) ~ (1-s^2)^16 < 1e-7 at the
    # planted similarity (~0.8+); the default 8x4 misses ~1.5% there
    pairs = fuzzy_join(docs, right, threshold_milli=500, bands=16)
    got = {(r["left_doc_id"], r["right_doc_id"]): r["jaccard_milli"]
           for r in pairs.collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    oracle = dict(((a, b), j) for a, b, j in con.execute("""
        WITH l AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        r AS (SELECT doc_id + 100000 AS doc_id,
                     text || ' zzzextra zzzmore' AS text FROM l),
        uni AS (SELECT 'L' AS side, * FROM l
                UNION ALL SELECT 'R', * FROM r),
        ws AS (SELECT side, doc_id,
                      list_filter(string_split_regex(lower(text),
                                  '[^a-z0-9]+'), w -> w <> '') AS w
               FROM uni),
        sh AS (SELECT DISTINCT side, doc_id,
                      unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                             FOR i IN generate_series(1, len(w) - 2)])) AS s
               FROM ws WHERE len(w) >= 3),
        sizes AS (SELECT side, doc_id, count(*) AS n FROM sh
                  GROUP BY 1, 2),
        shared AS (
          SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS shared
          FROM (SELECT * FROM sh WHERE side = 'L') a
          JOIN (SELECT * FROM sh WHERE side = 'R') b ON a.s = b.s
          GROUP BY 1, 2)
        SELECT id_l, id_r,
               CAST((shared * 1000)
                    // (sa.n + sb.n - shared) AS BIGINT) AS jm
        FROM shared
        JOIN (SELECT * FROM sizes WHERE side = 'L') sa
          ON sa.doc_id = id_l
        JOIN (SELECT * FROM sizes WHERE side = 'R') sb
          ON sb.doc_id = id_r
        WHERE (shared * 1000) // (sa.n + sb.n - shared) >= 500
    """).fetchall())
    # exactness: every emitted pair is in the brute-force oracle with
    # the identical integer jaccard (verification stage is exact)
    for p, j in got.items():
        assert p in oracle and oracle[p] == j
    # recall: every planted twin survives blocking at this similarity
    planted = {(i, i + 100000) for i in range(100)
               if (i, i + 100000) in oracle}
    assert planted and planted <= set(got)
    # LSH blocking kept recall near-total on the oracle's pair set
    assert len(got) >= len(oracle) * 9 // 10

    # exhaustive blocking (shared-shingle posting lists) EQUALS the
    # brute-force oracle — the registry-graded exactness path
    exact = {(r["left_doc_id"], r["right_doc_id"]): r["jaccard_milli"]
             for r in fuzzy_join(docs, right, threshold_milli=500,
                                 exhaustive=True).collect()}
    assert exact == oracle

    best = fuzzy_join_best(docs, right, threshold_milli=500, bands=16)
    rows = best.collect()
    assert len(rows) == len({r["left_doc_id"] for r in rows})
    by_left = {r["left_doc_id"]: r for r in rows}
    for lid, r in by_left.items():
        # the best match is the pair's max jaccard for that left id
        peers = [j for (a, _b), j in got.items() if a == lid]
        assert r["jaccard_milli"] == max(peers)


def test_fuzzy_join_damerau_oracle_and_hand_cases(spark, sf_dir):
    """fuzzy_join_damerau: in-test DuckDB oracle (registry standard,
    r16 queue) — exhaustive shared-shingle candidates (threshold 1
    milli = any k-gram overlap, the fuzzy_join_exact definition) with
    DuckDB-native damerau_levenshtein as the verify twin; hand cases
    pin the planted-suffix distance (17 appends), the max_edit cut,
    and the validation raise."""
    import duckdb
    import pytest

    from clickhouse_hdfs_loader_spark.operators.linkage import (
        fuzzy_join_damerau)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 100).select("doc_id", "text"))
    right = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzextra zzzmore")).alias("text"))
    got = sorted(map(tuple, fuzzy_join_damerau(
        docs, right, max_edit=40, threshold_milli=1,
        exhaustive=True).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["fuzzy_join_damerau"].oracle).fetchall()))
    assert got == want and len(got) > 0
    # every planted twin (distance exactly 17 — the appended suffix)
    # survives both stages; a tighter max_edit keeps exactly the
    # sub-threshold subset (the fixture DOES contain near-identical
    # cross pairs below 17, so the planted distance is not a floor)
    by_pair = {(a, b): d for a, b, *_rest, d in got}
    planted = {(i, i + 100000): 17 for i in range(100)
               if (i, i + 100000) in by_pair}
    assert planted and all(by_pair[p] == 17 for p in planted)
    tight = fuzzy_join_damerau(docs, right, max_edit=16,
                               threshold_milli=1, exhaustive=True)
    assert {(r["left_doc_id"], r["right_doc_id"]): r["damerau"]
            for r in tight.collect()} == {
        p: d for p, d in by_pair.items() if d <= 16}
    with pytest.raises(ValueError, match="max_edit"):
        fuzzy_join_damerau(docs, right, max_edit=-1)


def test_exact_weighted_quantiles_oracle_and_consistency(spark, sf_dir):
    """In-test DuckDB oracle for weighted exact quantiles on the real
    events table (event_id % 5 + 1 as a deterministic weight); with all
    weights equal the result coincides with the unweighted exact
    quantiles, and a hand case pins the weighted crossing."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        exact_quantiles_by_group, exact_weighted_quantiles_by_group)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    ev = read_table(spark, sf_dir, "events") \
        .withColumn("wt", F.pmod(F.col("event_id"), F.lit(5)) + 1)
    got = sorted(map(tuple, exact_weighted_quantiles_by_group(
        ev, "event_type", "value", "wt", (250, 500, 750)).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["exact_weighted_quantiles_by_group"].oracle).fetchall()))
    assert got == want and len(got) > 0

    # all-equal weights degenerate to the unweighted exact quantiles
    ev1 = ev.withColumn("wt", F.lit(1))
    wq = sorted(map(tuple, exact_weighted_quantiles_by_group(
        ev1, "event_type", "value", "wt", (250, 500, 750)).collect()))
    uq = sorted(map(tuple, exact_quantiles_by_group(
        ev, "event_type", "value", (250, 500, 750)).collect()))
    assert wq == uq

    # hand case: values 1,2,3 with weights 1,1,8 -> W=10; q=500 target 5
    # lands inside value 3's mass; q=250 target 3 also inside value 3
    # (cum: 1,2,10); q=100 target 1 -> value 1
    synth = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 8)],
        "g string, v double, w long")
    rows = {r["q_milli"]: r["q_value"] for r in
            exact_weighted_quantiles_by_group(
                synth, "g", "v", "w", (100, 250, 500)).collect()}
    assert rows == {100: 1.0, 250: 3.0, 500: 3.0}
    # fractional weights raise loudly instead of silently truncating
    import pytest as _pytest
    frac = spark.createDataFrame([("g", 1.0, 0.9)],
                                 "g string, v double, w double")
    with _pytest.raises(Exception, match="integral"):
        exact_weighted_quantiles_by_group(frac, "g", "v", "w").collect()
    # NULL weights are EXCLUDED (docstring contract), not raised on —
    # the r7 ADVICE repro: without the leading IS NULL branch the CASE
    # fell through to raise_error before the isNotNull filter ran
    withnull = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, None), ("g", 3.0, 8)],
        "g string, v double, w long")
    rows = {r["q_milli"]: r["q_value"] for r in
            exact_weighted_quantiles_by_group(
                withnull, "g", "v", "w", (100, 250, 500)).collect()}
    assert rows == {100: 1.0, 250: 3.0, 500: 3.0}   # same as dropping the row
    # NaN weights hit the DESCRIPTIVE raise, not the bare ANSI
    # CAST(NaN AS BIGINT) error (NaN = NaN is true under Spark's total
    # ordering, so NaN slips past the integrality check) — r8 ADVICE
    nan = spark.createDataFrame([("g", 1.0, float("nan"))],
                                "g string, v double, w double")
    with _pytest.raises(Exception, match="NaN weight"):
        exact_weighted_quantiles_by_group(nan, "g", "v", "w").collect()


@pytest.mark.slow
def test_sequence_count_python_replay_and_coherence(spark, sf_dir):
    """sequence_count vs an independent Spark-free pure-Python replay
    over the raw parquet (the bpe_train oracle pattern), plus coherence
    with sequence_match and a non-overlap hand case."""
    import duckdb
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_count, sequence_match)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    steps = ["view", "click", "purchase"]
    ev = read_table(spark, sf_dir, "events")
    got = {r["user_id"]: r["matches"]
           for r in sequence_count(ev, steps).collect()}

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, event_type, ts FROM '{sf_dir}/events.parquet' "
        f"ORDER BY user_id, ts, event_id").fetchall()
    want: dict = {}
    state: dict = {}
    for u, t, ts in rows:
        want.setdefault(u, 0)
        idx, last = state.get(u, (0, None))
        if t == steps[idx] and (idx == 0 or ts > last):
            last = ts
            idx += 1
            if idx == len(steps):
                want[u] = want[u] + 1
                idx, last = 0, None
        state[u] = (idx, last)
    assert got == want and len(got) > 0 and sum(got.values()) > 0

    # coherence: matches >= 1 exactly for sequence_match'd users
    matched = {r["user_id"] for r in sequence_match(ev, steps).collect()
               if r["matched"]}
    assert {u for u, n in got.items() if n >= 1} == matched

    # non-overlap: a-b-a-b counts ab TWICE, a-a-b-b counts it ONCE
    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    synth = spark.createDataFrame(
        [(1, 1, "a", t0, 1.0), (2, 1, "b", t0 + s, 1.0),
         (3, 1, "a", t0 + 2 * s, 1.0), (4, 1, "b", t0 + 3 * s, 1.0),
         (5, 2, "a", t0, 1.0), (6, 2, "a", t0 + s, 1.0),
         (7, 2, "b", t0 + 2 * s, 1.0), (8, 2, "b", t0 + 3 * s, 1.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    counts = {r["user_id"]: r["matches"] for r in
              sequence_count(synth, ["a", "b"]).collect()}
    assert counts == {1: 2, 2: 1}
    # tied timestamps: a@T then b@T does NOT complete (strict '>' like
    # sequence_match), so coherence holds even on tied fixtures
    tied = spark.createDataFrame(
        [(1, 1, "a", t0, 1.0), (2, 1, "b", t0, 1.0),
         (3, 1, "b", t0 + s, 1.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    assert sequence_count(tied, ["a", "b"]).collect()[0]["matches"] == 1
    assert sequence_match(tied, ["a", "b"]).collect()[0]["matched"]


def test_retention_flags_oracle_and_anchor_semantics(spark, sf_dir):
    """In-test DuckDB oracle for the retention(cond...) combinator on
    the real events table; the anchor gate is pinned by a hand case
    (a user with cond_i but NO anchor contributes nothing)."""
    import duckdb
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        retention_flags)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    conds = ["view", "click", "purchase"]
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, retention_flags(ev, conds).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["retention_flags"].oracle).fetchall()))
    assert got == want and len(got) == 3
    by_idx = {i: u for i, _c, u in got}
    assert by_idx[0] >= by_idx[1] and by_idx[0] >= by_idx[2] > 0

    t0 = dt.datetime(2024, 1, 1)
    synth = spark.createDataFrame(
        [(1, 1, "view", t0, 1.0), (2, 1, "click", t0, 1.0),
         # user 2 clicks but never views -> no anchor, contributes 0
         (3, 2, "click", t0, 1.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    rows = {r["cond_idx"]: r["users"] for r in
            retention_flags(synth, ["view", "click"]).collect()}
    assert rows == {0: 1, 1: 1}
    # empty input keeps the integer-0 contract (never NULL users)
    empty = synth.limit(0)
    assert {r["cond_idx"]: r["users"] for r in
            retention_flags(empty, ["view", "click"]).collect()} \
        == {0: 0, 1: 0}


@pytest.mark.slow
def test_stream_funnel_matches_batch_and_split_space(spark, sf_dir):
    """The foreachBatch funnel twin reproduces the batch funnel exactly
    (with and without the conversion window), and folding ANY in-order
    split through funnel_update equals the one-shot funnel —
    hypothesis-driven, window included."""
    import datetime as dt
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        funnel, funnel_counts, funnel_update)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    from clickhouse_hdfs_loader_spark.streaming.events import stream_funnel

    steps = ["view", "click", "purchase"]
    ev = read_table(spark, sf_dir, "events")
    batch = sorted(map(tuple, funnel(ev, steps).collect()))
    stream = sorted(map(tuple, stream_funnel(spark, sf_dir).collect()))
    assert stream == batch and len(stream) == 3

    batch_w = sorted(map(tuple,
                         funnel(ev, steps, within_hours=24).collect()))
    stream_w = sorted(map(tuple, stream_funnel(
        spark, sf_dir, within_hours=24).collect()))
    assert stream_w == batch_w

    t0 = dt.datetime(2024, 1, 1)
    schema = ("event_id long, user_id long, event_type string, "
              "ts timestamp, value double")

    @given(st.lists(st.tuples(st.integers(0, 3),       # user
                              st.integers(0, 2),       # step index
                              st.integers(0, 80)),     # ts hours
                    min_size=1, max_size=24),
           st.integers(1, 4),
           st.sampled_from([None, 24]))
    @settings(max_examples=8, deadline=None)
    def check(evs, nbatch, window):
        names = ["a", "b", "c"]
        rows = [(i, u, names[y], t0 + dt.timedelta(hours=j), 1.0)
                for i, (u, y, j) in enumerate(evs)]
        full = spark.createDataFrame(rows, schema)
        one_shot = sorted(map(tuple, funnel(
            full, names, within_hours=window).collect()))
        ordered = sorted(rows, key=lambda r: (r[3], r[0]))
        cuts = sorted({(i * len(ordered)) // nbatch
                       for i in range(1, nbatch)})
        chain = None
        lo = 0
        for hi in cuts + [len(ordered)]:
            if hi == lo:
                continue
            bdf = spark.createDataFrame(ordered[lo:hi], schema)
            chain = funnel_update(chain, bdf, names,
                                  within_hours=window) \
                .localCheckpoint(eager=True)
            lo = hi
        got = sorted(map(tuple, funnel_counts(chain, names).collect()))
        assert got == one_shot

    check()


@pytest.mark.slow
def test_stream_retention_matches_batch_any_partition(spark, sf_dir):
    """The foreachBatch retention twin reproduces the batch operator
    exactly, and folding ANY random partition of the events (order-free
    — min/set-union monoid states) equals the one-shot cohort table."""
    import datetime as dt
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        retention_cohorts, retention_from_state, retention_update)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_retention)

    ev = read_table(spark, sf_dir, "events")
    batch = sorted(map(tuple, retention_cohorts(ev).collect()))
    stream = sorted(map(tuple, stream_retention(spark, sf_dir).collect()))
    assert stream == batch and len(stream) > 0

    t0 = dt.datetime(2024, 1, 1)
    schema = ("event_id long, user_id long, event_type string, "
              "ts timestamp, value double")

    @given(st.lists(st.tuples(st.integers(0, 3),        # user
                              st.integers(0, 70)),      # ts days
                    min_size=1, max_size=20),
           st.lists(st.integers(0, 2), min_size=1, max_size=20))
    @settings(max_examples=8, deadline=None)
    def check(evs, assignment):
        rows = [(i, u, "e", t0 + dt.timedelta(days=j), 1.0)
                for i, (u, j) in enumerate(evs)]
        full = spark.createDataFrame(rows, schema)
        one_shot = sorted(map(tuple, retention_cohorts(full).collect()))
        # ARBITRARY partition into up to 3 batches, arbitrary order
        parts: dict = {}
        for i, r in enumerate(rows):
            parts.setdefault(assignment[i % len(assignment)], []).append(r)
        first, active = None, None
        for _k, chunk in sorted(parts.items(), reverse=True):
            bdf = spark.createDataFrame(chunk, schema)
            first, active = retention_update(first, active, bdf)
            first = first.localCheckpoint(eager=True)
            active = active.localCheckpoint(eager=True)
        got = sorted(map(tuple,
                         retention_from_state(first, active).collect()))
        assert got == one_shot

    check()


@pytest.mark.slow
def test_anomaly_from_incremental_hourly_state(spark, sf_dir):
    """Anomaly detection served from incrementally-maintained hourly
    state equals the one-shot detector for ANY partition of the events
    (per-hour counts add — order-free monoid), on both the real events
    table and a hypothesis-driven partition space."""
    import datetime as dt
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from clickhouse_hdfs_loader_spark.operators.asof import (
        anomaly_from_hourly, anomaly_zscore, hourly_counts_update)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    ev = read_table(spark, sf_dir, "events")
    one_shot = sorted(map(tuple, anomaly_zscore(ev, z_threshold=2.0)
                          .collect()))
    # fold the real table in three arbitrary slices
    state = None
    for m in (0, 1, 2):
        state = hourly_counts_update(
            state, ev.where(F.pmod("event_id", F.lit(3)) == m)) \
            .localCheckpoint(eager=True)
    got = sorted(map(tuple, anomaly_from_hourly(state, z_threshold=2.0)
                     .collect()))
    assert got == one_shot and len(got) > 0

    t0 = dt.datetime(2024, 1, 1)
    schema = ("event_id long, user_id long, event_type string, "
              "ts timestamp, value double")

    @given(st.lists(st.tuples(st.integers(0, 1),        # series
                              st.integers(0, 40)),      # ts hours
                    min_size=1, max_size=24),
           st.lists(st.integers(0, 2), min_size=1, max_size=8))
    @settings(max_examples=8, deadline=None)
    def check(evs, assignment):
        rows = [(i, 1, f"s{k}", t0 + dt.timedelta(hours=j), 1.0)
                for i, (k, j) in enumerate(evs)]
        full = spark.createDataFrame(rows, schema)
        want = sorted(map(tuple, anomaly_zscore(
            full, z_threshold=1.0, min_history=2).collect()))
        parts: dict = {}
        for i, r in enumerate(rows):
            parts.setdefault(assignment[i % len(assignment)], []).append(r)
        st_ = None
        for _k, chunk in sorted(parts.items(), reverse=True):
            st_ = hourly_counts_update(
                st_, spark.createDataFrame(chunk, schema)) \
                .localCheckpoint(eager=True)
        have = sorted(map(tuple, anomaly_from_hourly(
            st_, z_threshold=1.0, min_history=2).collect()))
        assert have == want

    check()


@pytest.mark.slow
def test_heavy_hitters_weighted_oracle_certificate_and_guards(spark, sf_dir):
    """topKWeighted twin: two-pass weighted Misra-Gries equals the exact
    full-shuffle weighted top-k (DuckDB oracle); unit weights degenerate
    to heavy_hitters; flat data + tiny capacity raises the certificate;
    NaN/fractional/negative weights raise loudly, NULL weights drop."""
    import duckdb
    import pytest as PT
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        heavy_hitters, heavy_hitters_weighted)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    ev = read_table(spark, sf_dir, "events") \
        .withColumn("wt", F.pmod(F.col("event_id"), F.lit(5)) + 1)
    got = sorted(map(tuple, heavy_hitters_weighted(
        ev, "event_type", "wt", k=3, capacity=64).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["heavy_hitters_weighted"].oracle).fetchall()))
    assert got == want and len(got) == 3

    # unit weights degenerate to the unweighted operator exactly
    ev1 = ev.withColumn("wt", F.lit(1))
    wu = sorted((r["value"], r["weight"], r["rank"]) for r in
                heavy_hitters_weighted(ev1, "event_type", "wt", k=3,
                                       capacity=64).collect())
    uu = sorted((r["value"], r["cnt"], r["rank"]) for r in
                heavy_hitters(ev, "event_type", k=3,
                              capacity=64).collect())
    assert wu == uu

    # flat distribution + tiny capacity: certificate fails loudly
    flat = spark.range(0, 5000).select(
        (F.col("id") % 2500).cast("string").alias("v"),
        F.lit(1).alias("w"))
    with PT.raises(ValueError, match="certificate"):
        heavy_hitters_weighted(flat, "v", "w", k=3, capacity=4)

    # skewed head + small capacity: head certifies and is exact — the
    # hot value's WEIGHT dominates even though its row count does not
    skew = spark.range(0, 3000).select(
        F.when(F.col("id") % 3 == 0, F.lit("hot"))
        .otherwise((F.col("id") % 7).cast("string")).alias("v"),
        F.when(F.col("id") % 3 == 0, F.lit(50)).otherwise(F.lit(1))
        .alias("w"))
    top1 = heavy_hitters_weighted(skew, "v", "w", k=1,
                                  capacity=16).collect()
    assert top1[0]["value"] == "hot" and top1[0]["weight"] == 1000 * 50

    # weight guards: NULL drops, NaN / fractional / negative raise
    withnull = spark.createDataFrame(
        [("a", 5), ("a", None), ("b", 1)], "v string, w long")
    rows = {r["value"]: r["weight"] for r in
            heavy_hitters_weighted(withnull, "v", "w", k=2,
                                   capacity=8).collect()}
    assert rows == {"a": 5, "b": 1}
    for badw, msg in [(float("nan"), "NaN weight"),
                      (0.5, "integral"), (-2.0, "negative")]:
        bad = spark.createDataFrame([("a", badw)], "v string, w double")
        with PT.raises(Exception, match=msg):
            heavy_hitters_weighted(bad, "v", "w", k=1,
                                   capacity=8).collect()


def test_group_array_moving_sum_oracle_and_hand_case(spark, sf_dir):
    """groupArrayMovingSum twin: milli-quantized ROWS-frame moving sums
    replay hash-exactly in DuckDB; a hand case pins the frame width and
    the (ts, id) tie-break."""
    import duckdb
    import datetime as dt
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        group_array_moving_sum)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, group_array_moving_sum(ev, n=5).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["group_array_moving_sum"].oracle).fetchall()))
    assert got == want and len(got) > 0

    # hand case: values 1,2,3,4 with n=2 -> sums 1000,3000,5000,7000;
    # the two tied-ts middle rows order by event_id
    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    synth = spark.createDataFrame(
        [(1, 1, "g", t0, 1.0), (2, 1, "g", t0 + h, 2.0),
         (3, 1, "g", t0 + h, 3.0), (4, 1, "g", t0 + 2 * h, 4.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    rows = {r["pos"]: r["moving_milli"] for r in
            group_array_moving_sum(synth, n=2).collect()}
    assert rows == {1: 1000, 2: 3000, 3: 5000, 4: 7000}


def test_group_array_moving_avg_oracle_and_hand_cases(spark, sf_dir):
    """groupArrayMovingAvg twin (registry standard, r14 queue): the
    ClickHouse contract divides the milli-quantized moving sum by the
    FULL window size n with integer truncation toward zero — DuckDB's
    integer `//` matches Spark's `div` exactly (r10: −7 // 2 = −3), so
    the twin replays hash-identically; hand cases pin the
    always-divide-by-n rule on the warm-up rows and the toward-zero
    truncation on negative sums."""
    import duckdb
    import datetime as dt
    import pytest
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        group_array_moving_avg)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, group_array_moving_avg(ev, n=5).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["group_array_moving_avg"].oracle).fetchall()))
    assert got == want and len(got) > 0

    # hand case: n=2 — warm-up row STILL divides by 2 (the ClickHouse
    # full-window-size rule), and −3 div 2 = −1 (toward zero; floor
    # would give −2). vm values: 1.0→1000, −0.0035→−4, 0.001→1
    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    synth = spark.createDataFrame(
        [(1, 1, "g", t0, 1.0), (2, 1, "g", t0 + h, -0.0035),
         (3, 1, "g", t0 + 2 * h, 0.001)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    rows = {r["pos"]: r["avg_milli"] for r in
            group_array_moving_avg(synth, n=2).collect()}
    assert rows == {1: 500, 2: 498, 3: -1}

    with pytest.raises(ValueError, match="positive window size"):
        group_array_moving_avg(ev, n=0)


def test_uniq_up_to_oracle_cap_and_partition_invariance(spark, sf_dir):
    """uniqUpTo(N) twin: bounded-state capped distinct equals
    least(exact distinct, N+1) (DuckDB oracle) at a cap the data
    crosses AND at one it does not; the result is invariant under
    repartitioning (the capped partials merge exactly); NULL groups and
    values are excluded on both sides."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        uniq_up_to)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    ev = read_table(spark, sf_dir, "events")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    for n in (10, 10_000_000):
        got = sorted(map(tuple, uniq_up_to(
            ev, "event_type", "user_id", n=n).collect()))
        want = sorted(map(tuple, con.execute(f"""
            SELECT event_type,
                   least(count(DISTINCT user_id), {n + 1}) AS uniq_up_to
            FROM events
            WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            GROUP BY 1
        """).fetchall()))
        assert got == want and len(got) > 0
    # the small cap actually engaged (fixtures have > 10 users/type)
    small = {r["event_type"]: r["uniq_up_to"] for r in
             uniq_up_to(ev, "event_type", "user_id", n=10).collect()}
    assert any(v == 11 for v in small.values())

    # partition invariance: capped partials merge to the same answer
    repart = sorted(map(tuple, uniq_up_to(
        ev.repartition(13), "event_type", "user_id", n=10).collect()))
    assert repart == sorted(small.items())

    # NULLs excluded from both roles; sentinel is exactly n+1
    synth = spark.createDataFrame(
        [("g", v) for v in range(5)] + [("g", None), (None, 99)],
        "g string, v long")
    assert uniq_up_to(synth, "g", "v", n=3).collect()[0]["uniq_up_to"] == 4
    assert uniq_up_to(synth, "g", "v", n=10).collect()[0]["uniq_up_to"] == 5


def test_pmi_collocations_oracle_and_hand_cases(spark, sf_dir):
    """In-test DuckDB oracle (registry standard, r12 queue): the full
    tokenize → count → milli-log2 PMI → deterministic top-k pipeline
    replays exactly in SQL on the real corpus; hand cases pin the
    power-of-two-exact PMI values and the min_count rare-pair cut."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        pmi_collocations)
    from clickhouse_hdfs_loader_spark.plans.queries import _ILOG2
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = [tuple(r) for r in
           pmi_collocations(docs, min_count=5, k=15).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    lg = {c: _ILOG2.format(x=c) for c in ("c12", "c1", "c2", "n_tok")}
    want = [tuple(r) for r in con.execute(f"""
        WITH ws AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text),
                                                '[^a-z0-9]+'),
                             w -> w <> '') AS l
          FROM documents),
        toks AS (SELECT doc_id, generate_subscripts(l, 1) AS i, l
                 FROM ws),
        uni AS (SELECT l[i] AS w, CAST(count(*) AS BIGINT) AS cw
                FROM toks GROUP BY 1),
        tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tok FROM uni),
        bg AS (SELECT l[i] || ' ' || l[i+1] AS bg
               FROM toks WHERE i < len(l)),
        c2t AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bg
                GROUP BY 1 HAVING count(*) >= 5),
        j AS (SELECT c2t.bg, c12, u1.cw AS c1, u2.cw AS c2, n_tok
              FROM c2t
              JOIN uni u1 ON u1.w = string_split(c2t.bg, ' ')[1]
              JOIN uni u2 ON u2.w = string_split(c2t.bg, ' ')[2]
              CROSS JOIN tot)
        SELECT bg, c12, c1, c2,
               CAST({lg['c12']} + {lg['n_tok']} - {lg['c1']}
                    - {lg['c2']} AS BIGINT) AS pmi_milli
        FROM j ORDER BY pmi_milli DESC, bg LIMIT 15
    """).fetchall()]
    assert got == want and len(got) == 15

    # hand case (power-of-two counts -> EXACT milli-log2): corpus
    # "a b a b c c c c" has N=8, c(a)=c(b)=2, c(c)=4;
    # (a b) c12=2 -> pmi = 1000+3000-1000-1000 = 2000
    # (c c) c12=3 -> pmi = 1500+3000-2000-2000 =  500
    synth = spark.createDataFrame([(1, "a b a b c c c c")],
                                  "doc_id long, text string")
    rows = [tuple(r) for r in
            pmi_collocations(synth, min_count=2, k=5).collect()]
    assert rows == [("a b", 2, 2, 2, 2000), ("c c", 3, 4, 4, 500)]
    # min_count=1 admits the hapax pairs: (b a) scores lgm(1)+lgm(8)
    # −lgm(2)−lgm(2) = 1000, (b c) scores 3000−1000−2000 = 0 — the
    # full ranking is exact on this power-of-two corpus
    all_rows = [tuple(r) for r in
                pmi_collocations(synth, min_count=1, k=10).collect()]
    assert [(t[0], t[4]) for t in all_rows] == [
        ("a b", 2000), ("b a", 1000), ("c c", 500), ("b c", 0)]
    # tie-break: equal-PMI bigrams cut on bg ASC deterministically
    tie = spark.createDataFrame([(1, "x y x y p q p q")],
                                "doc_id long, text string")
    t = [tuple(r) for r in
         pmi_collocations(tie, min_count=2, k=1).collect()]
    assert t[0][0] == "p q" and t[0][4] == 2000
    # invalid min_count raises before any job
    import pytest as _pt
    with _pt.raises(ValueError, match="min_count"):
        pmi_collocations(synth, min_count=0)


def test_jaro_winkler_e6_textbook_and_properties(spark, sf_dir):
    """jaro_winkler_e6_udf: exact e6 integers pinned on the textbook
    pairs (cross-checked against DuckDB's float implementation), the
    identity/empty/NULL edge contract, symmetry, and a DuckDB
    cross-check over real document-text prefixes."""
    import duckdb
    from clickhouse_hdfs_loader_spark.functions.text import (
        jaro_winkler_e6_udf)

    jw = jaro_winkler_e6_udf()

    def run(pairs):
        df = spark.createDataFrame(pairs, "a string, b string")
        return [r["s"] for r in
                df.select(jw("a", "b").alias("s")).collect()]

    # textbook pins (Winkler's own examples; DuckDB floats agree):
    # MARTHA/MARHTA 0.9611…, DIXON/DICKSONX 0.8133…, DWAYNE/DUANE
    # 0.84 — the double-truncated integer contract sits ≤ 2 micro-
    # units BELOW the real value (jaro truncates, then the prefix
    # boost of the truncated jaro truncates again), so the pins are
    # the CONTRACT values, not rounded floats
    got = run([("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
               ("DWAYNE", "DUANE")])
    assert got == [961110, 813332, 839999]
    duck = duckdb.connect().execute(
        "SELECT jaro_winkler_similarity('MARTHA','MARHTA'),"
        " jaro_winkler_similarity('DIXON','DICKSONX'),"
        " jaro_winkler_similarity('DWAYNE','DUANE')").fetchone()
    assert all(abs(g / 1e6 - d) < 3e-6 for g, d in zip(got, duck))

    # identity / empty / disjoint / NULL contract — including 1-char
    # identity (the window floor: max(la,lb)//2 - 1 is -1 there,
    # review-caught) and the 0.7 boost threshold (a low-jaro shared-
    # prefix pair gets NO Winkler boost, matching DuckDB/Winkler)
    assert run([("abc", "abc"), ("", ""), ("", "abc"),
                ("abc", "xyz"), ("a", "a")]) == [
        1_000_000, 1_000_000, 0, 0, 1_000_000]
    low = run([("taxxxxxx", "tzzzz")])[0]
    lowd = duckdb.connect().execute(
        "SELECT jaro_winkler_similarity('taxxxxxx','tzzzz')"
    ).fetchone()[0]
    assert abs(low / 1e6 - lowd) < 3e-6 and low < 700_000
    df = spark.createDataFrame([("abc", None), (None, None)],
                               "a string, b string")
    assert [r["s"] for r in
            df.select(jw("a", "b").alias("s")).collect()] == [None,
                                                              None]

    # symmetry on real corpus text prefixes + DuckDB float agreement
    # within the e6 truncation (the exact integer formula is the
    # CONTRACT; DuckDB is the sanity mirror)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents")
    pairs = (docs.where(F.col("doc_id") < 40)
             .select(F.substring("text", 1, 30).alias("a"),
                     F.substring("text", 12, 30).alias("b")))
    fwd = [r["s"] for r in pairs.select(jw("a", "b").alias("s"))
           .orderBy("a", "b").collect()]
    rev = [r["s"] for r in pairs.select(jw("b", "a").alias("s"))
           .orderBy("a", "b").collect()]
    assert fwd == rev and len(fwd) == 40
    duckrows = duckdb.connect().execute(f"""
        SELECT jaro_winkler_similarity(substr(text, 1, 30),
                                       substr(text, 12, 30))
        FROM '{sf_dir}/documents.parquet' WHERE doc_id < 40
        ORDER BY substr(text, 1, 30), substr(text, 12, 30)
    """).fetchall()
    assert all(abs(g / 1e6 - d[0]) < 5e-4
               for g, d in zip(fwd, duckrows))


def _pylg(x):
    """Pure-Python ilog2_milli replay (the ONE test-side copy; keep in
    lockstep with retrieval.with_ilog2_milli)."""
    e = x.bit_length() - 1
    return e * 1000 + ((x - (1 << e)) * 1000) // (1 << e)


def test_ranking_metrics_oracle_and_hand_cases(spark, sf_dir):
    """ranking_metrics (NDCG@k / MRR / hits@k): in-test DuckDB oracle
    (registry standard, r15 queue) — exact integer gains via the
    shared milli-log2, rank/ideal-rank in one partition; hand cases
    pin the perfect-ranking 10⁶, the worst-ordering zero, a
    Python-replayed mixed case, the beyond-k MRR, and the loud
    validation."""
    import duckdb

    from clickhouse_hdfs_loader_spark.operators.retrieval import (
        ranking_metrics)
    from clickhouse_hdfs_loader_spark.plans.queries import _ILOG2
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()
                 & F.col("event_type").isNotNull())
          .withColumn("rel", F.pmod(F.col("user_id"), F.lit(3))))
    got = sorted(map(tuple, ranking_metrics(
        ev, "event_type", "value", "rel", "event_id", k=10).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    lg = _ILOG2.format(x="(rnk + 1)")
    ilg = _ILOG2.format(x="(irnk + 1)")
    want = sorted(map(tuple, con.execute(f"""
        WITH b AS (SELECT event_type AS g, value AS sc, event_id AS id,
                          ((user_id % 3 + 3) % 3) AS rel
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND event_id IS NOT NULL AND user_id IS NOT NULL
                     AND event_type IS NOT NULL),
        r AS (SELECT g, rel,
                     row_number() OVER (PARTITION BY g
                       ORDER BY sc DESC, id) AS rnk,
                     row_number() OVER (PARTITION BY g
                       ORDER BY rel DESC, id) AS irnk
              FROM b),
        l AS (SELECT g, rel, rnk, irnk,
                     {lg} AS lgv, {ilg} AS ilgv
              FROM r),
        a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN rel > 0 AND rnk <= 10
                          THEN 1 ELSE 0 END) AS BIGINT) AS hits_k,
                     min(CASE WHEN rel > 0 THEN rnk END) AS _mr,
                     CAST(sum(CASE WHEN rnk <= 10
                          THEN (rel * 1000000000) // lgv ELSE 0 END)
                          AS BIGINT) AS dcg_e6,
                     CAST(sum(CASE WHEN irnk <= 10
                          THEN (rel * 1000000000) // ilgv ELSE 0 END)
                          AS BIGINT) AS idcg_e6
              FROM l GROUP BY 1)
        SELECT g AS event_type, n, hits_k,
               CAST(CASE WHEN _mr IS NULL THEN NULL
                    ELSE 1000000 // _mr END AS BIGINT) AS rr_e6,
               dcg_e6, idcg_e6,
               CAST(CASE WHEN idcg_e6 = 0 THEN NULL
                    ELSE (dcg_e6 * 1000000) // idcg_e6 END
                    AS BIGINT) AS ndcg_e6
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    assert any(r[6] is not None for r in got)

    def run(rels_scores, k):
        rows = [("q", float(sc), i, int(rel))
                for i, (rel, sc) in enumerate(rels_scores)]
        df = spark.createDataFrame(
            rows, "q string, score double, doc_id long, rel long")
        return ranking_metrics(df, "q", "score", "rel", "doc_id",
                               k=k).collect()[0]

    # perfect ranking (score order == gain order): ndcg exactly 1e6
    r = run([(3, 30.0), (2, 20.0), (1, 10.0)], k=2)
    assert (r["ndcg_e6"], r["rr_e6"], r["hits_k"], r["n"]) == (
        1_000_000, 1_000_000, 2, 3)
    # worst ordering at k=2: the only relevant doc sits at rank 3 —
    # dcg@2 = 0, but MRR still sees it (the full-ranking rule)
    r = run([(0, 30.0), (0, 20.0), (1, 10.0)], k=2)
    assert (r["dcg_e6"], r["ndcg_e6"], r["hits_k"],
            r["rr_e6"]) == (0, 0, 0, 1_000_000 // 3)
    # mixed case, replayed exactly in pure Python
    rels = [2, 3, 0, 1]          # in descending-score order
    dcg = sum((rel * 10**9) // _pylg(i + 2)
              for i, rel in enumerate(rels[:3]))
    ideal = sorted(rels, reverse=True)
    idcg = sum((rel * 10**9) // _pylg(i + 2)
               for i, rel in enumerate(ideal[:3]))
    r = run([(2, 40.0), (3, 30.0), (0, 20.0), (1, 10.0)], k=3)
    assert (r["dcg_e6"], r["idcg_e6"], r["ndcg_e6"]) == (
        dcg, idcg, (dcg * 10**6) // idcg)
    # no relevant docs anywhere: NULL rr and NULL ndcg, zero sums
    r = run([(0, 30.0), (0, 20.0)], k=5)
    assert (r["rr_e6"], r["ndcg_e6"], r["dcg_e6"],
            r["idcg_e6"]) == (None, None, 0, 0)
    # validation: k, fractional and negative gains raise loudly
    with pytest.raises(ValueError, match="k must be"):
        ranking_metrics(ev, "event_type", "value", "rel", "event_id",
                        k=0)
    for bad, msg in ((0.5, "integral counts"),
                     (-1.0, "negative relevance gain")):
        df = spark.createDataFrame([("q", 1.0, 1, float(bad))],
                                   "q string, score double, "
                                   "doc_id long, rel double")
        with pytest.raises(Exception, match=msg):
            ranking_metrics(df, "q", "score", "rel",
                            "doc_id").collect()
    # the gain bound is k-AWARE (review-caught r14): at k=2000 the cap
    # tightens to 9e12//2000 = 4.5e9 so the k-term DCG sum can never
    # hit a generic ANSI overflow — the raise is named
    big = spark.createDataFrame([("q", 1.0, 1, 5_000_000_000)],
                                "q string, score double, "
                                "doc_id long, rel long")
    with pytest.raises(Exception, match="overflow the exact e6 DCG"):
        ranking_metrics(big, "q", "score", "rel", "doc_id",
                        k=2000).collect()


def test_damerau_levenshtein_udf_duckdb_parity(spark, sf_dir):
    """damerau_levenshtein_udf: FULL Damerau-Levenshtein over UTF-8
    bytes — hand pins (incl. the CA→ABC = 2 case separating full DL
    from restricted OSA's 3, and the 2-byte é), exact DuckDB-native
    parity over real document prefixes (the promotion-ready oracle
    shape, r15 queue), NULL/empty contract, and the length raise."""
    import duckdb
    from clickhouse_hdfs_loader_spark.functions.text import (
        damerau_levenshtein_udf)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    dl = damerau_levenshtein_udf()

    def run(pairs):
        df = spark.createDataFrame(pairs, "a string, b string")
        return [r["d"] for r in
                df.select(dl("a", "b").alias("d")).collect()]

    # full DL, not OSA: CA -> AC -> ABC is 2 edits (OSA forbids
    # editing inside a transposed pair and says 3); DuckDB agrees
    assert run([("CA", "ABC"), ("ab", "ba"), ("kitten", "sitting"),
                ("", "abc"), ("", ""), ("héllo", "hello"),
                ("same", "same")]) == [2, 1, 3, 3, 0, 2, 0]
    df = spark.createDataFrame([("abc", None), (None, None)],
                               "a string, b string")
    assert [r["d"] for r in
            df.select(dl("a", "b").alias("d")).collect()] == [None, None]
    with pytest.raises(Exception, match="2000 bytes"):
        spark.createDataFrame([("x" * 2001, "y")], "a string, b string") \
            .select(dl("a", "b").alias("d")).collect()

    # exact parity with DuckDB's native damerau_levenshtein on real
    # document-text prefixes (capped pair set — the oracle shape)
    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 24)
            .select("doc_id", F.substring("text", 1, 32).alias("p")))
    pairs = (docs.alias("a").join(docs.alias("b"),
                                  F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"),
                     dl(F.col("a.p"), F.col("b.p")).alias("d")))
    got = sorted(map(tuple, pairs.collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["damerau_pairs"].oracle).fetchall()))
    assert got == want and len(got) == 276


def test_damerau_numpy_kernel_scalar_parity():
    """The row-vectorized numpy Lowrance-Wagner kernel (r16, the UDF's
    engine) equals the scalar cell-loop reference on randomized byte
    strings — Spark-free fuzz, exact integers, no tolerance."""
    import random

    from clickhouse_hdfs_loader_spark.functions.text import (
        damerau_levenshtein_bytes)

    def ref(x, y):
        s1, s2 = x.encode("utf-8"), y.encode("utf-8")
        la, lb = len(s1), len(s2)
        if la == 0:
            return lb
        if lb == 0:
            return la
        inf = la + lb
        last: dict = {}
        d = [[inf] * (lb + 2) for _ in range(la + 2)]
        for i in range(la + 1):
            d[i + 1][1] = i
        for j in range(lb + 1):
            d[1][j + 1] = j
        for i in range(1, la + 1):
            db = 0
            for j in range(1, lb + 1):
                i1, j1 = last.get(s2[j - 1], 0), db
                if s1[i - 1] == s2[j - 1]:
                    cost, db = 0, j
                else:
                    cost = 1
                d[i + 1][j + 1] = min(
                    d[i][j] + cost, d[i + 1][j] + 1, d[i][j + 1] + 1,
                    d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1))
            last[s1[i - 1]] = i
        return d[la + 1][lb + 1]

    rng = random.Random(13)
    for _ in range(1500):
        n1, n2 = rng.randint(0, 12), rng.randint(0, 12)
        x = "".join(rng.choice("abcdef") for _ in range(n1))
        y = "".join(rng.choice("abcdef") for _ in range(n2))
        assert damerau_levenshtein_bytes(x, y) == ref(x, y), (x, y)
    pool = "abcdéü中𝄞 xyz"
    for _ in range(150):
        x = "".join(rng.choice(pool) for _ in range(rng.randint(0, 80)))
        y = "".join(rng.choice(pool) for _ in range(rng.randint(0, 80)))
        assert damerau_levenshtein_bytes(x, y) == ref(x, y), (x, y)
    assert damerau_levenshtein_bytes(None, "x") is None
    assert damerau_levenshtein_bytes("x", None) is None


def test_byte_jaccard_e6_udf_duckdb_parity(spark, sf_dir):
    """byte_jaccard_e6_udf: byte-SET Jaccard at half-up e6 — hand pins
    (incl. the 2-byte é and the multiset-blind 'aab'/'ab' = 10⁶),
    exact parity with floor(duckdb.jaccard·10⁶ + 0.5) over real
    document prefixes (the promotion-ready oracle shape, r15 queue),
    and the NULL/empty contract mirroring DuckDB's empty-input
    raise."""
    import duckdb
    from clickhouse_hdfs_loader_spark.functions.text import (
        byte_jaccard_e6_udf)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    bj = byte_jaccard_e6_udf()

    def run(pairs):
        df = spark.createDataFrame(pairs, "a string, b string")
        return [r["s"] for r in
                df.select(bj("a", "b").alias("s")).collect()]

    # {a,b,c} vs {b,c,d}: 2/4; byte sets ignore multiplicity; héé is
    # bytes {h, C3, A9} vs {h, e}: 1/4; empties are NULL (DuckDB's
    # jaccard raises on them — a 0/1 convention would have no oracle)
    assert run([("abc", "bcd"), ("aab", "ab"), ("héé", "he"),
                ("same", "same"), ("", "abc"), ("abc", ""),
                ("abc", None)]) == [
        500_000, 1_000_000, 250_000, 1_000_000, None, None, None]
    # half-up rounding: 1/3 -> 333333, 2/3 -> 666667
    assert run([("a", "abc"), ("ab", "abc")]) == [333_333, 666_667]

    docs = (read_table(spark, sf_dir, "documents")
            .where((F.col("doc_id") < 40)
                   & (F.length("text") > 0))
            .select("doc_id", F.substring("text", 1, 48).alias("p")))
    pairs = (docs.alias("a").join(docs.alias("b"),
                                  F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"),
                     bj(F.col("a.p"), F.col("b.p")).alias("s")))
    got = sorted(map(tuple, pairs.collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["byte_jaccard_pairs"].oracle).fetchall()))
    assert got == want and len(got) > 0


def test_ranking_metrics_hypothesis_vs_replay(spark):
    """Property: ranking_metrics equals a pure-Python replay of the
    documented contract (score-desc/id-asc rank, rel-desc ideal, the
    milli-log2 gain quantization, full-ranking MRR) on arbitrary small
    inputs with heavy score/rel ties."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.retrieval import (
        ranking_metrics)

    def replay(rows, k):
        # rows: [(doc_id, score, rel)] for one query
        byscore = sorted(rows, key=lambda r: (-r[1], r[0]))
        byrel = sorted(rows, key=lambda r: (-r[2], r[0]))
        n = len(rows)
        hits = sum(1 for i, r in enumerate(byscore[:k]) if r[2] > 0)
        first = next((i + 1 for i, r in enumerate(byscore)
                      if r[2] > 0), None)
        rr = None if first is None else 1_000_000 // first
        dcg = sum((r[2] * 10**9) // _pylg(i + 2)
                  for i, r in enumerate(byscore[:k]))
        idcg = sum((r[2] * 10**9) // _pylg(i + 2)
                   for i, r in enumerate(byrel[:k]))
        ndcg = None if idcg == 0 else (dcg * 10**6) // idcg
        return (n, hits, rr, dcg, idcg, ndcg)

    @given(st.lists(st.tuples(st.integers(0, 3),     # score bucket
                              st.integers(0, 2)),    # rel
                    min_size=1, max_size=10),
           st.sampled_from([1, 2, 5]))
    @settings(max_examples=6, deadline=None)
    def check(pairs, k):
        rows = [(i, float(sc), rel) for i, (sc, rel) in enumerate(pairs)]
        df = spark.createDataFrame(
            rows, "doc_id long, score double, rel long")
        df = df.withColumn("q", F.lit("q"))
        r = ranking_metrics(df, "q", "score", "rel", "doc_id",
                            k=k).collect()[0]
        got = (r["n"], r["hits_k"], r["rr_e6"], r["dcg_e6"],
               r["idcg_e6"], r["ndcg_e6"])
        assert got == replay(rows, k)

    check()


def test_damerau_levenshtein_hypothesis_vs_duckdb(spark):
    """Property: the Lowrance-Wagner DP equals DuckDB's native
    damerau_levenshtein on arbitrary short strings over a tiny
    alphabet (maximizing transposition/repeat collisions)."""
    import duckdb

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.functions.text import (
        damerau_levenshtein_udf)

    dl = damerau_levenshtein_udf()
    con = duckdb.connect()

    @given(st.lists(st.tuples(st.text(alphabet="abc", max_size=6),
                              st.text(alphabet="abc", max_size=6)),
                    min_size=1, max_size=8))
    @settings(max_examples=6, deadline=None)
    def check(pairs):
        df = spark.createDataFrame(pairs, "a string, b string")
        got = [r["d"] for r in
               df.select(dl("a", "b").alias("d")).collect()]
        want = [con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]
            for a, b in pairs]
        assert got == want

    check()


def test_profile_columns_approx_matches_exact_recompute(spark, sf_dir):
    """profile_columns_approx's r15 split (exact/null aggregates and the
    HLL sketches as two cross-joined one-row aggs — the single mixed agg
    put the HLL buffers on the count_distinct Expand replication) must
    not change any output: null counts equal a direct recompute and
    every contract flag still certifies (the fixture columns are all
    well within the 5-sigma band)."""
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        profile_columns_approx)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    ev = read_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value"]
    out = {r["column_name"]: r for r in
           profile_columns_approx(ev, cols).collect()}
    assert sorted(out) == sorted(cols)
    exact = ev.agg(*[F.sum(F.isnull(c).cast("long")).alias(c)
                     for c in cols]).collect()[0]
    for c in cols:
        assert out[c]["n_nulls"] == exact[c]
        assert out[c]["distinct_ok"] == 1


def test_sequence_count_fold_matches_automaton_hypothesis(spark):
    """r16: sequence_count's JVM aggregate() fold vs a pure-Python
    greedy automaton with the pandas semantics the applyInPandas form
    had — (ts NULLS LAST, id) order, strict '>' between accepted steps,
    NULL-ts rows acceptable at step 0 only (ts > NaT is False), restart
    on completion — hypothesis-driven over random logs with tied
    timestamps and NULL ts. Ids are unique per log (full (ts, id) ties
    across DIFFERENT types were input-order-dependent in the pandas
    form — not a pinnable behavior)."""
    import datetime as dt
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_count)

    t0 = dt.datetime(2024, 1, 1)
    steps = ["a", "b"]
    types = ["a", "b", "c"]
    schema = ("event_id long, user_id long, event_type string, "
              "ts timestamp, value double")

    def ref(rows):
        # rows: (id, user, ty, us_or_None) — the pandas-exact automaton
        out = {}
        byu: dict = {}
        for r in rows:
            byu.setdefault(r[1], []).append(r)
        big = 1 << 62
        for u, evs in byu.items():
            evs = sorted(evs, key=lambda r: (
                r[3] if r[3] is not None else big, r[0]))
            idx, last, n = 0, None, 0
            for rid, _, ty, us in evs:
                if ty != steps[idx]:
                    continue
                if idx == 0 or (us is not None and last is not None
                                and us > last):
                    last = us
                    idx += 1
                    if idx == len(steps):
                        n += 1
                        idx, last = 0, None
            out[u] = n
        return out

    @given(st.lists(st.tuples(st.integers(0, 2),            # user
                              st.integers(0, 2),            # type index
                              st.one_of(st.none(),
                                        st.integers(0, 4))),  # tick
                    min_size=1, max_size=24))
    @settings(max_examples=8, deadline=None)
    def run(log):
        rows = [(i, u, types[t],
                 None if tick is None else t0 + dt.timedelta(seconds=tick),
                 1.0)
                for i, (u, t, tick) in enumerate(log)]
        df = spark.createDataFrame(rows, schema)
        got = {r["user_id"]: r["matches"]
               for r in sequence_count(df, steps).collect()}
        ref_rows = [(i, u, ty,
                     None if ts is None else int(ts.timestamp() * 1_000_000))
                    for (i, u, ty, ts, _) in rows]
        assert got == ref(ref_rows)

    run()
