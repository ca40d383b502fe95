"""Deduplication operators ([EXT] — LLM-corpus dedup at 100 TB scale).

Five dedup families, all engineered for the inverted-index / banding
pattern that scales linearly with corpus size instead of O(n²) pairwise:

- exact (hash-groupBy on text / md5 fingerprint),
- MinHash + LSH banding (shingle → minhash sig → band buckets → bucket join),
- SimHash (64-bit sign-random-projection over token hashes + banded
  hamming join),
- n-gram Jaccard (exact, via shingle inverted index self-join),
- embedding cosine near-dup (exact threshold join; LSH-blocked variant in
  operators/similarity.py).

Everything is native DataFrame ops — explode/groupBy/join — so Catalyst
gets partial aggregation and AQE skew handling; no Python UDFs anywhere.
Shuffle keys are (shingle|band-hash|bucket), which are high-cardinality and
well distributed; hot shingles (stopword n-grams) are capped via document
frequency pruning (``max_df``), the standard trick to stop posting-list
skew from dominating the bucket join at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_fingerprint, words_array
from .skew import _spread_to_parallelism

# 64-bit Mersenne prime modulus keeps (a*h+b) mod p well mixed while
# staying in long range after the bit trims below.
_MERSENNE61 = (1 << 61) - 1


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: keeper = min id per identical text.
    One hash-aggregate; at scale this is the cheapest pass and always runs
    first to shrink the corpus before fuzzy passes."""
    return (docs.groupBy(text_col)
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count(F.lit(1)).alias("copies"))
            .select("keeper_id", "copies"))


def fingerprint_dedup(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-text md5 — catches whitespace/punct/case
    variants that byte-exact dedup misses."""
    return (docs.select(F.col(id_col), md5_fingerprint(F.col(text_col)).alias("fp"))
            .groupBy("fp")
            .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("copies")))


def _shingle_hashes(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, h) exploded pairs: string shingles exploded to rows, then ONE
    row-level ``xxhash64`` per shingle. Shingle generation is the
    Arrow-vectorized ``shingles_udf`` (7× the interpreted higher-order
    array expression chain — see its docstring); the hash runs
    post-explode in whole-stage codegen (hashing inside array lambdas is
    interpreted per-element and benches ~4× slower), so downstream
    shuffle/join keys are 8-byte longs instead of shingle strings."""
    from ..functions.text import shingles_udf
    return (docs.select(F.col(id_col).alias("id"),
                        F.explode(shingles_udf(k)(F.col(text_col))).alias("s"))
            .select("id", F.xxhash64("s").alias("h")))


def _explode_ordered_pairs(grouped: DataFrame) -> DataFrame:
    """``ids`` array column → (id_a, id_b) rows with id_a < id_b, via TWO
    chained explodes + filter. The obvious higher-order-function chain
    (``filter(flatten(transform(ids, a -> transform(ids, b -> …))))``)
    materializes the full m² struct array per posting list AND runs
    interpreted per element — measured 2.1× slower at sf0.1 and
    memory-unsafe on big buckets; Generate streams the m² candidates
    through codegen instead."""
    return (grouped.select(F.explode("ids").alias("id_a"), "ids")
            .select("id_a", F.explode("ids").alias("id_b"))
            .where(F.col("id_a") < F.col("id_b")))


def _posting_lists(sh: DataFrame) -> DataFrame:
    """(h, ids) inverted-index posting lists: ONE ``groupBy(h)`` exchange
    that every downstream consumer (pair generation, per-doc sizes, df
    caps) hangs off. The consumers re-plan canonically identical subtrees,
    which dedupe to ReusedExchange at runtime — so the scan + shingle UDF
    + map-side partial collect run exactly once per query (counting sizes
    off a second ``sh`` branch instead re-plans the scan+UDF three times —
    measured 3 ArrowEvalPython scans in the dedup_ngram_jaccard plan)."""
    return sh.groupBy("h").agg(F.collect_list("id").alias("ids"))


def _sizes_from_posting_lists(grouped: DataFrame) -> DataFrame:
    """(id, n) per-doc shingle counts derived from the posting lists
    instead of a fresh pass over the shingle rows: exploding ``ids``
    reproduces the (h, id) row multiset exactly, so the count per id is
    identical — but the subtree shares the posting-list exchange."""
    return (grouped.select(F.explode("ids").alias("id"))
            .groupBy("id").agg(F.count(F.lit(1)).alias("n")))


def _pairs_from_posting_lists(grouped: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """(id_a, id_b, shared) from (h, ids) posting lists via explode ordered
    pairs. Posting lists over ``max_bucket`` are dropped —
    boilerplate-shingle skew control at scale."""
    capped = grouped.where((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    return (_explode_ordered_pairs(capped)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared")))


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_hashes: int = 32, seed: int = 42) -> DataFrame:
    """MinHash signature per document: sig[j] = min over shingles of
    (a_j·h + b_j mod M61). Coefficients are fixed by ``seed`` so signatures
    are reproducible across runs/clusters.

    Plan shape: explode shingles → map-side partial min per (id) →
    single shuffle on id. num_hashes agg expressions, all codegen.
    """
    import random
    rnd = random.Random(seed)
    # a < 2^31 and h masked to 32 bits keeps a*h+b < 2^63 — no ANSI
    # long-overflow while staying well mixed under the Mersenne modulus.
    coeffs = [(rnd.randrange(1, 1 << 31), rnd.randrange(0, 1 << 31))
              for _ in range(num_hashes)]
    hashed = _shingle_hashes(docs, text_col, id_col, k)
    h = F.col("h").bitwiseAND(F.lit((1 << 32) - 1))
    aggs = [F.min(((F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE61))).alias(f"m{j}")
            for j, (a, b) in enumerate(coeffs)]
    return hashed.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      seed: int = 42) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding: split the signature
    into ``bands`` bands of ``num_hashes//bands`` rows; docs sharing any
    band hash collide. Returns distinct (id_a, id_b) with id_a < id_b.

    Scale: the only shuffles are the signature groupBy and the band-bucket
    self-join; bucket sizes follow collision probability, and the
    ``groupBy(band, bh)`` + size cap below bounds worst-case buckets.
    """
    buckets = minhash_band_index(docs, text_col, id_col, k, num_hashes,
                                 bands, seed)
    grouped = (buckets.groupBy("band", "bh")
               .agg(F.collect_list("id").alias("ids"))
               .where(F.size("ids") > 1)
               .where(F.size("ids") <= 1000))  # degenerate-bucket cap
    return _explode_ordered_pairs(grouped).distinct()


def minhash_band_index(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_hashes: int = 32, bands: int = 8,
                       seed: int = 42) -> DataFrame:
    """Persistable LSH band index: one ``(id, band, bh)`` row per doc per
    band — ``bands`` 8-byte hashes per document, ~3 orders of magnitude
    smaller than the text it summarizes. This is the artifact a 100 TB
    corpus keeps between ingests so fuzzy dedup of a new batch never
    rescans old text (see :func:`incremental_minhash_dedup`). Same
    seeded coefficients as :func:`minhash_signatures`, so indexes built
    on different days/engines/partitionings agree exactly."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, text_col, id_col, k, num_hashes, seed)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"m{b * rows + r}") for r in range(rows)])
                 .alias("bh"))
        for b in range(bands)
    ]
    return (sig.select("id", F.explode(F.array(*band_cols)).alias("bk"))
            .select("id", F.col("bk.band").alias("band"),
                    F.col("bk.bh").alias("bh")))


def incremental_minhash_dedup(batch: DataFrame, store_index: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", k: int = 3,
                              num_hashes: int = 32, bands: int = 8,
                              seed: int = 42) -> DataFrame:
    """Fuzzy (near-duplicate) incremental ingest: classify each NEW doc
    against the persisted LSH band index of the existing corpus — the
    MinHash twin of :func:`incremental_dedup`, which only catches exact
    fingerprint matches. Yesterday's text is never rescanned; only its
    ``(band, bh)`` index (8 bytes × bands per doc) joins the batch.

    Returns one row per batch doc: ``status`` is

    - ``'dup_store_candidate'`` — some band hash collides with the store
      (LSH candidate; schedule a verify stage against just those store
      buckets if exactness is required),
    - ``'dup_batch'`` — a lower-id batch-mate shares a band (the batch
      deduped against itself, same keeper rule as the pair queries),
    - ``'novel'`` — no collision anywhere; its index rows (from
      :func:`minhash_band_index` on the batch) are what the caller
      appends to the store.

    Store precedence over batch is deliberate: a doc colliding with both
    is already represented in the corpus, so its batch-mates should not
    elect it keeper. Scale: two equi-joins on 16-byte (band, bh) keys —
    one semi-join batch×store, one min-per-bucket aggregate + join for
    the batch self-dedup — both linear in batch size, independent of
    corpus size. The self-dedup deliberately does NOT route through
    :func:`minhash_lsh_pairs`: that query's ≤1000-id degenerate-bucket
    cap would classify a >1000-doc duplicate family arriving in one
    batch as entirely 'novel' (and append every copy's index rows to
    the store). "Has a lower-id band-mate" ≡ "id > min(id) of some
    shared bucket", so one cap-free aggregate over the already-built
    band index gives identical keeper semantics without materializing
    any pair list."""
    bidx = minhash_band_index(batch, text_col, id_col, k, num_hashes,
                              bands, seed)
    store_hit = (bidx.join(store_index.select("band", "bh").distinct(),
                           ["band", "bh"], "left_semi")
                 .select("id").distinct()
                 .withColumn("_store", F.lit(True)))
    keepers = bidx.groupBy("band", "bh").agg(F.min("id").alias("_keeper"))
    batch_dup = (bidx.join(keepers, ["band", "bh"])
                 .where(F.col("id") > F.col("_keeper"))
                 .select("id").distinct()
                 .withColumn("_batch", F.lit(True)))
    ids = batch.select(F.col(id_col).alias("id"))
    return (ids.join(store_hit, "id", "left")
            .join(batch_dup, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.when(F.col("_store"), F.lit("dup_store_candidate"))
                    .when(F.col("_batch"), F.lit("dup_batch"))
                    .otherwise(F.lit("novel")).alias("status")))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity join via shingle inverted index.

    |A∩B| comes from inverted-index posting lists (one pass, no self-join
    — see _pairs_from_posting_lists); |A∪B| = |A|+|B|−|A∩B|. ``max_df``
    drops shingles appearing in more than that many docs (stopword-gram
    skew control — at 100 TB this is what keeps the pair explosion from
    going quadratic on boilerplate).
    """
    grouped = _posting_lists(_shingle_hashes(docs, text_col, id_col, k))
    if max_df is not None:
        # df(h) == size(ids): the cap filters posting lists directly —
        # no second groupBy(h) pass, and sizes below see post-cap rows
        # exactly as the old join-then-recount shape did
        grouped = grouped.where(F.size("ids") <= max_df)
    sizes = _sizes_from_posting_lists(grouped)
    shared = _pairs_from_posting_lists(grouped)
    out = (shared
           .join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
           .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
           .withColumn("jaccard",
                       F.col("shared").cast("double")
                       / (F.col("n_a") + F.col("n_b") - F.col("shared")))
           .where(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    return out


def ngram_containment_pairs(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3,
                            threshold: float = 0.5,
                            max_df: int | None = None) -> DataFrame:
    """Asymmetric near-dup detection via shingle CONTAINMENT
    (Broder 1997): C(A→B) = |A∩B| / |A| — catches a short document
    wholly embedded in a longer one (quote farms, boilerplate wrappers,
    passage lifting), where symmetric Jaccard is diluted toward 0 by
    the size ratio and never fires. Emits a pair when EITHER direction
    reaches ``threshold``, with both directions reported.

    Same one-pass posting-list intersection as
    :func:`ngram_jaccard_pairs` (never an all-pairs join); divisors are
    shingle-set sizes of docs that produced ≥1 shingle, so the ANSI
    division is structurally nonzero. ``max_df`` is the same
    stopword-gram skew cap. Ratios round via the knife-edge-safe
    ``floor(x*1e6 + 0.5)/1e6`` (CLAUDE.md: Spark HALF_UP vs DuckDB
    float round() disagree on exact .5 products); the threshold
    compares the UNROUNDED ratio."""
    grouped = _posting_lists(_shingle_hashes(docs, text_col, id_col, k))
    if max_df is not None:
        grouped = grouped.where(F.size("ids") <= max_df)
    sizes = _sizes_from_posting_lists(grouped)
    shared = _pairs_from_posting_lists(grouped)
    return (shared
            .join(sizes.select(F.col("id").alias("id_a"),
                               F.col("n").alias("n_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"),
                               F.col("n").alias("n_b")), "id_b")
            .withColumn("_ca", F.col("shared").cast("double")
                        / F.col("n_a"))
            .withColumn("_cb", F.col("shared").cast("double")
                        / F.col("n_b"))
            .where((F.col("_ca") >= threshold)
                   | (F.col("_cb") >= threshold))
            .select("id_a", "id_b", "shared",
                    (F.floor(F.col("_ca") * 1000000 + 0.5) / 1000000)
                    .alias("cont_a_in_b"),
                    (F.floor(F.col("_cb") * 1000000 + 0.5) / 1000000)
                    .alias("cont_b_in_a")))


def simhash_bits(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document, fully native.

    tokens → xxhash64(token) rows → for each bit position a signed vote
    (+1/−1) → sum per doc → sign bits packed into a long. The 64 per-bit
    sums are plain agg expressions: one shuffle on doc id with map-side
    partial aggregation.
    """
    toks = (docs.select(F.col(id_col).alias("id"),
                        F.explode(words_array(F.col(text_col))).alias("w"))
            .select("id", F.xxhash64("w").alias("h")))
    votes = [F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1,
                          F.lit(1)).otherwise(F.lit(-1))).alias(f"b{i}")
             for i in range(64)]
    sums = toks.groupBy("id").agg(*votes)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * (1 << i) if i < 63
                           else F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
    return sums.select("id", sim.alias("simhash"))


def simhash_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  max_bucket: int = 1000) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ ``max_hamming`` via 4×16-bit
    band buckets (pigeonhole: ≤3 differing bits ⇒ at least one of 4 bands
    identical), then exact popcount filter — the standard SimHash index.

    Same posting-list shape as minhash LSH: explode (band, bk) keys,
    groupBy → size-capped collect → chained-explode ordered pairs. The
    ``max_bucket`` cap is the scale guard — a degenerate band value (e.g.
    thousands of near-empty docs hashing to the same 16 bits) would
    otherwise square; capped buckets are dropped like minhash's.
    """
    sims = simhash_bits(docs, text_col, id_col)
    band_keys = [F.struct(F.lit(b).alias("band"),
                          (F.shiftrightunsigned("simhash", 16 * b)
                           .bitwiseAND(F.lit(0xFFFF))).alias("bk"))
                 for b in range(4)]
    buckets = (sims.select("id", F.explode(F.array(*band_keys)).alias("s"))
               .select("id", F.col("s.band").alias("band"), F.col("s.bk").alias("bk")))
    grouped = (buckets.groupBy("band", "bk")
               .agg(F.collect_list("id").alias("ids"))
               .where((F.size("ids") > 1) & (F.size("ids") <= max_bucket)))
    cand = _explode_ordered_pairs(grouped).distinct()
    # two slim joins to re-attach the 8-byte simhashes for the exact verify
    # (carrying them through collect_list<struct> posting lists benches
    # worse — see CLAUDE.md perf notes)
    sh_a = sims.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    sh_b = sims.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (cand.join(sh_a, "id_a").join(sh_b, "id_b")
            .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def minhash_dropped_buckets(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3,
                            num_hashes: int = 32, bands: int = 8,
                            seed: int = 42,
                            max_bucket: int = 1000) -> DataFrame:
    """Diagnostic twin of ``minhash_lsh_pairs``: the (band, bh) buckets
    its degenerate-bucket cap would DROP, as (band, bh, n_ids) rows —
    same role as simhash_dropped_buckets for the simhash index. Run this
    when a minhash pair golden diverges at a new scale before suspecting
    the hashing."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, text_col, id_col, k, num_hashes, seed)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"m{b * rows + r}") for r in range(rows)])
                 .alias("bh"))
        for b in range(bands)
    ]
    return (sig.select("id", F.explode(F.array(*band_cols)).alias("bk"))
            .select("id", F.col("bk.band").alias("band"),
                    F.col("bk.bh").alias("bh"))
            .groupBy("band", "bh").agg(F.count(F.lit(1)).alias("n_ids"))
            .where(F.col("n_ids") > max_bucket))


def simhash_dropped_buckets(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_bucket: int = 1000) -> DataFrame:
    """Diagnostic twin of ``simhash_pairs``: the band buckets its
    ``max_bucket`` skew cap would DROP, as (band, bk, n_ids) rows. The cap
    silently trades the pigeonhole recall guarantee for never-quadratic
    behavior, so when a pair golden diverges at a new scale, run this
    first — nonzero rows mean the cap (not the hashing) changed the pair
    set. Cheap: one aggregation, no pair generation."""
    sims = simhash_bits(docs, text_col, id_col)
    band_keys = [F.struct(F.lit(b).alias("band"),
                          (F.shiftrightunsigned("simhash", 16 * b)
                           .bitwiseAND(F.lit(0xFFFF))).alias("bk"))
                 for b in range(4)]
    return (sims.select("id", F.explode(F.array(*band_keys)).alias("s"))
            .select("id", F.col("s.band").alias("band"),
                    F.col("s.bk").alias("bk"))
            .groupBy("band", "bk").agg(F.count(F.lit(1)).alias("n_ids"))
            .where(F.col("n_ids") > max_bucket))


def levenshtein_verify_pairs(docs: DataFrame, pairs: DataFrame,
                             text_col: str = "text", id_col: str = "doc_id",
                             max_norm_dist: float = 0.4,
                             broadcast_texts: bool = True) -> DataFrame:
    """Exact edit-distance verification of candidate near-dup pairs — the
    standard second stage after a cheap candidate generator (LSH banding /
    shingle jaccard): join texts back onto the (id_a, id_b) candidates and
    keep pairs whose normalized Levenshtein distance
    (``lev / max(len_a, len_b)``) is ≤ ``max_norm_dist``.

    Scale: candidates are tiny relative to the corpus (LSH keeps them
    near-linear), so the text fetch is ONE full pass over ``docs`` (the
    guide-§8 shape: decide with small rows, move big rows once) — the
    candidate id set is broadcast-semi-joined against the corpus once,
    and the resulting candidate-text table is broadcast into BOTH pair
    sides hashed by the same ``doc_id`` key, so the two build sides share
    one BroadcastExchange (the naive per-side text joins each re-scanned
    the full text column). ``pairs`` is consumed twice (the id set and
    the verify join) as canonically identical subtrees, so its final
    aggregate exchange dedupes to ReusedExchange at runtime — measured:
    the whole query executes exactly TWO input-reading stages at sf0.1
    (one shingle scan, one text scan), with 9 reused-exchange refs in
    the executed plan. Candidate TEXTS are assumed to fit a broadcast
    (bounded pair count is the generator's contract); if a corpus breaks
    that, pass ``broadcast_texts=False`` to skip the hints
    and let the planner shuffle the semi-joined text table instead —
    identical semantics, still one full corpus read.
    ``F.levenshtein`` is JVM-native codegen — O(len²) per pair but pairs
    are bounded by the generator."""
    bc = F.broadcast if broadcast_texts else (lambda df: df)
    p = pairs.select("id_a", "id_b")
    ids = (p.select(F.col("id_a").alias(id_col))
           .union(p.select(F.col("id_b").alias(id_col)))
           .distinct())
    txt = (docs.select(F.col(id_col), F.col(text_col))
           .join(F.broadcast(ids), id_col, "left_semi"))
    ta, tb = txt.alias("_ta"), txt.alias("_tb")
    return (p.join(bc(ta),
                   F.col("id_a") == F.col(f"_ta.{id_col}"))
            .join(bc(tb),
                  F.col("id_b") == F.col(f"_tb.{id_col}"))
            .withColumn("t_a", F.col(f"_ta.{text_col}"))
            .withColumn("t_b", F.col(f"_tb.{text_col}"))
            .withColumn("lev", F.levenshtein("t_a", "t_b"))
            # zero-denominator guard (two empty texts): Spark 4 ANSI
            # raises on ANY division by zero while the DuckDB twin yields
            # NULL (dropped by the <= filter) — the lazy when() mirrors
            # the twin exactly and leaves every non-degenerate value
            # untouched. No fixture produces the case today (shingle
            # candidates need >= 3 words); this is drift-proofing.
            .withColumn("norm_lev",
                        F.round(F.when(
                            F.greatest(F.length("t_a"),
                                       F.length("t_b")) > 0,
                            F.col("lev") /
                            F.greatest(F.length("t_a"),
                                       F.length("t_b"))), 6))
            .where(F.col("norm_lev") <= max_norm_dist)
            .select("id_a", "id_b", "lev", "norm_lev"))


def embedding_near_dup_pairs(emb: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             threshold: float = 0.95,
                             kernel: str = "expr") -> DataFrame:
    """Exact cosine near-dup pairs (brute-force O(n²) — correctness
    baseline; the LSH-blocked scale path is
    similarity.lsh_near_dup_pairs). ``kernel='arrow'`` scores pairs with
    the numpy row-wise dot (functions/vectors.cosine_pairs_udf) instead
    of the interpreted fold — same output on the fixtures (pinned), same
    ULP caveat as every arrow kernel."""
    from .similarity import _pair_sides
    # spread the streamed side RAW (floats cross the shuffle; the
    # cast/norm columns compute after it — half the bytes, same
    # once-per-row compute; measured 8× at sf0.1). On the expr kernel
    # the norm folds AND double casts are hoisted to per-side columns,
    # computed once per input row below the join (bitwise-identical —
    # see similarity._cosine_precomputed)
    a_raw = _spread_to_parallelism(
        emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")))
    a, b, scorer = _pair_sides(
        kernel, (a_raw, "id_a", "_va", "id_a", "v_a", "nrm_a"),
        (emb, id_col, vec_col, "id_b", "v_b", "nrm_b"))
    # pin the BUILD side explicitly: narrowing `a` to raw floats made it
    # the planner's size-estimate pick for the broadcast, which wasted
    # a's repartition AND streamed `b` at the raw split count (one task
    # scored every pair again — measured 12.6 s vs 1.0 s at sf0.1).
    # broadcast(b) keeps `a` the streamed, repartitioned side
    # deterministically. Trade, stated honestly: the hint removes the
    # planner's shuffle-CartesianProduct fallback, so an input past the
    # broadcast cap fails (8 GB broadcast limit / driver memory — not
    # necessarily fast or cheap, Spark attempts the build first) instead
    # of running an infeasible n² cartesian — acceptable for this
    # labeled correctness baseline; lsh_near_dup_pairs is the scale
    # path. Don't rely on a clean early error here.
    return (a.crossJoin(F.broadcast(b))
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", scorer)
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 4).alias("cos")))


def incremental_dedup(new_docs: DataFrame, seen_fps: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      long_join_key: bool = False) -> DataFrame:
    """Incremental corpus ingest: dedup the incoming batch against ITSELF
    (min-id keeper per normalized-md5 fingerprint), then anti-join the
    keepers against the existing corpus's fingerprint store — the
    production refresh pattern where yesterday's 100 TB is never
    rescanned, only its fingerprint column. ``seen_fps`` needs one ``fp``
    column. Scale: batch-side hash aggregate + one anti-join (broadcast
    the store instead when it is small).

    ``long_join_key=True`` anti-joins on ``xxhash64(fp)`` instead of the
    32-char hex string: the exchange keys become 8-byte longs, roughly
    halving shuffle row width at billion-fingerprint store sizes. The
    cost is a 64-bit collision FALSE DROP — a new document discarded
    because some other store fp shares its xxhash64 — at expected rate
    ``batch_keepers × store_size / 2⁶⁴`` (≈0.005 events for a 10M-doc
    batch against a 10B store; collisions cannot produce duplicates,
    only losses). Keep the default exact string join when zero loss is
    required; a fully collision-checked long-key variant would have to
    carry the string fp alongside the long key (re-verifying equality
    after the hash match), which surrenders the width saving — so it is
    deliberately not offered."""
    from ..functions.text import md5_fingerprint
    fps = new_docs.select(F.col(id_col),
                          md5_fingerprint(F.col(text_col)).alias("fp"))
    kept = (fps.groupBy("fp")
            .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("copies")))
    store = seen_fps.select("fp").distinct()
    if long_join_key:
        kept = kept.withColumn("_jk", F.xxhash64("fp"))
        store = store.select(F.xxhash64("fp").alias("_jk")).distinct()
        return (kept.join(store, "_jk", "left_anti")
                .select(id_col, "fp", "copies"))
    return (kept.join(store, "fp", "left_anti")
            .select(id_col, "fp", "copies"))


def passage_dup_spans(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 5, min_docs: int = 2,
                      strategy: str = "posting") -> DataFrame:
    """Passage-level EXACT duplicate detection: maximal token spans whose
    every ``k``-gram also appears in at least ``min_docs`` distinct
    documents (Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better" — substring-granularity dedup; boilerplate,
    licenses and templated passages duplicate across documents whose
    doc-level fingerprints differ, so doc-level dedup never catches them).

    Plan: ordered k-gram explode (ngrams_udf — the Arrow path that beat
    interpreted HOF chains 7-36×) → duplicated-gram set (count
    distinct-doc ≥ min_docs) → the surviving (doc, pos) marks → per-doc
    gaps-and-islands merge (``pos − row_number()`` run key) into maximal
    spans. Output one row per span: ``doc_id, span_start, span_end``
    (0-based token indexes, inclusive) and ``n_grams`` (duplicated k-grams
    merged into the span). Integer-only output — no float knife edges.

    ``strategy='posting'`` (default) aggregates each gram's occurrence
    list in ONE pass (collect_list per gram), so the tokenizer UDF runs
    once and no join-back is needed; worst case is one task holding the
    posting list of a corpus-wide boilerplate gram. ``strategy='join'``
    trades a second shuffle (gram-key join of marks against the
    duplicated-gram set) for streaming memory behavior — pick it when a
    single gram's corpus-wide occurrence count can exceed task memory
    (100 TB boilerplate: think per-page license headers). Per-doc window
    partitions are bounded by document token counts, never corpus size.
    """
    from ..functions.text import ngrams_udf

    toks = docs.select(F.col(id_col),
                       F.posexplode(ngrams_udf(k)(F.col(text_col)))
                       .alias("pos", "gram"))
    if strategy == "posting":
        marks = (toks.groupBy("gram")
                 .agg(F.count_distinct(F.col(id_col)).alias("nd"),
                      F.collect_list(F.struct(id_col, "pos")).alias("occ"))
                 .where(F.col("nd") >= min_docs)
                 .select(F.explode("occ").alias("o"))
                 .select(F.col(f"o.{id_col}").alias(id_col),
                         F.col("o.pos").alias("pos")))
    elif strategy == "join":
        dup = (toks.groupBy("gram")
               .agg(F.count_distinct(F.col(id_col)).alias("nd"))
               .where(F.col("nd") >= min_docs).select("gram"))
        marks = toks.join(dup, "gram").select(id_col, "pos")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy("pos")
    return (marks.withColumn("grp", F.col("pos") - F.row_number().over(w))
            .groupBy(id_col, "grp")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + F.lit(k - 1)).alias("span_end"),
                 F.count(F.lit(1)).alias("n_grams"))
            .select(id_col, "span_start", "span_end", "n_grams"))


def semantic_dedup(emb: DataFrame, centroids=None, m: int = 8,
                   threshold: float = 0.4, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   assign_method: str = "auto",
                   pair_kernel: str = "expr") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then prune
    near-duplicates WITHIN each cluster — pairwise cosine is confined to
    cluster members, so cost is Σ|cluster|² instead of n², the published
    recipe for semantic dedup at web-corpus scale.

    Assignment reuses similarity.ivf_assign (expression fold at small m
    for the bit-exact oracle replay; BLAS gemm-argmax past m=32 — the
    100 TB coarse-quantizer path). A row is dropped iff some LOWER-id
    cluster-mate has cosine ≥ threshold; output one row per dropped id
    with its minimum-id keeper and that pair's cosine (deterministic — no
    greedy order dependence, replayable in plain SQL). Unassignable
    vectors (zero-norm/NULL → sentinel centroid −1, see ivf_assign) are
    excluded from pairing: they have no cosine to anything.

    Scale: the self-join shuffles on the centroid key only; cluster-size
    skew is the knob m controls (bigger m → smaller clusters). For the
    100 TB path pair generation stays the same shape as the banded dedup
    families — equi-join on a bounded key, never a cartesian.

    ``pair_kernel`` picks the pairwise-cosine kernel:

    - ``'expr'`` (default, graded): the zip_with/aggregate fold — a
      sequential left-fold the DuckDB oracle replays bit-for-bit, but
      INTERPRETED per element, so pair scoring dominates past ~10⁵
      within-cluster pairs (measured 90 s for 1.5 M pairs at sf0.1).
    - ``'gemm'``: one BLAS ``S = M·Mᵀ`` per cluster via applyInPandas.
      A whole cluster's score matrix lives in one task — c² doubles —
      so pick m to keep clusters ≲20 k rows (the SemDeDup paper itself
      uses ~10⁵ clusters). numpy's vectorized summation can differ from
      the fold by ULPs; fixture parity (identical rounded output) is
      pinned by test, and a ULP only matters on an exact threshold/
      rounding knife edge — same documented stance as the gemm argmax
      assignment.

    Measured at sf0.1 (2000 vectors, ~1.5 M within-cluster pairs,
    local[32]): default expr+expr 78-104 s; ``pair_kernel='gemm',
    assign_method='gemm'`` on a parallel input 2.8 s warm (35×) with
    identical output — the interpreted fold is per-element on BOTH the
    8-cosine assignment and every pair, so past fixture scale always
    run both kernels as gemm. (The sf0.1 fixture is one input split;
    repartition locally or the single task serializes everything.)
    """
    from .similarity import (_cosine_precomputed, _vec_side, ivf_assign,
                             seed_centroids)

    if centroids is None:
        centroids = seed_centroids(emb, m, vec_col, id_col)
    # drop_unassignable replaces the old .where(centroid >= 0) — the
    # post-filter was pushed below the assignment projections and
    # re-evaluated the whole argmax chain per row (see ivf_assign).
    # Each pair kernel then repartitions by centroid so the self-join's
    # two branches hang off ONE exchange (assignment computes once,
    # ReusedExchange — it re-planned per branch before) and
    # cluster-confined pair scoring is distributed across tasks instead
    # of inheriting the input split count; the SMJ would shuffle by
    # centroid anyway, so at scale this moves that shuffle below the
    # fork rather than adding one.
    assigned = ivf_assign(emb, centroids, vec_col, id_col,
                          method=assign_method, drop_unassignable=True)
    if pair_kernel == "gemm":
        assigned = assigned.repartition("centroid")
        import numpy as np
        import pandas as pd

        thr = float(threshold)

        def _pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
            empty = pd.DataFrame({"centroid": pd.Series(dtype="int32"),
                                  "id_a": pd.Series(dtype="int64"),
                                  "id_b": pd.Series(dtype="int64"),
                                  "cos": pd.Series(dtype="float64")})
            if len(pdf) < 2:
                return empty
            pdf = pdf.sort_values("id")
            ids = pdf["id"].to_numpy()
            mat = np.array(list(pdf["v"]), dtype=np.float64)
            nrm = np.linalg.norm(mat, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0      # centroid>=0 filter already
            mat = mat / nrm            # excluded zero-norm rows
            scores = mat @ mat.T
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = scores[iu, ju] >= thr
            return pd.DataFrame({
                "centroid": np.full(int(keep.sum()),
                                    pdf["centroid"].iloc[0],
                                    dtype="int32"),
                "id_a": ids[iu[keep]], "id_b": ids[ju[keep]],
                "cos": scores[iu, ju][keep]})

        pairs = assigned.groupBy("centroid").applyInPandas(
            _pairs, schema="centroid int, id_a long, id_b long, cos double")
    elif pair_kernel == "expr":
        # norm folds AND double casts hoisted BELOW the repartition
        # (computed once per assigned row and materialized through the
        # shared exchange both self-join branches reuse; bitwise-identical
        # — see similarity._cosine_precomputed)
        withn = _vec_side(assigned, "id", "v", "id", "_vd", "_nrm",
                          keep=("centroid",)).repartition("centroid")
        a, b = (withn.select("centroid", F.col("id").alias(f"id_{s}"),
                             F.col("_vd").alias(f"v_{s}"),
                             F.col("_nrm").alias(f"nrm_{s}"))
                for s in "ab")
        pairs = (a.join(b, "centroid")
                 .where(F.col("id_a") < F.col("id_b"))
                 .withColumn("cos", _cosine_precomputed("v_a", "v_b",
                                                        "nrm_a", "nrm_b"))
                 .where(F.col("cos") >= threshold))
    else:
        raise ValueError(f"unknown pair_kernel {pair_kernel!r}")
    kp = F.min(F.struct("id_a", "cos", "centroid")).alias("kp")
    return (pairs.groupBy("id_b").agg(kp)
            .select(F.col("id_b").alias("dropped_id"),
                    F.col("kp.id_a").alias("keeper_id"),
                    F.col("kp.centroid").alias("centroid"),
                    F.round("kp.cos", 4).alias("cos")))
