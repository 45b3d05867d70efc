"""Deduplication operators for training-data pipelines (net-new surface,
BASELINE.json north star; no reference equivalent — the reference's only
dedup was a driver-side ``dict.fromkeys`` title dedup,
recommendations3.py:91).

Four tiers, each a different cost/recall point, all engine-portable
(md5-derived hashing only):

- exact:        md5(normalized text) group — one shuffle on the digest.
- ngram-jaccard: exact set similarity over char n-gram shingles via an
                inverted-index self-join (only pairs sharing a shingle
                are generated — never the full cross product).
- MinHash+LSH:  k portable min-hashes → b bands → candidates are pairs
                sharing a band signature. The 100 TB path: cost is
                O(docs × k) + a band-key equi-join, independent of the
                pair count.
- SimHash:      60-bit sign-of-weighted-sum signature; near-dups have
                small Hamming distance.

Scale notes: every step is groupBy/join on bounded keys; the shingle
inverted index is the only potentially-skewed join (stop-shingles) —
mitigated by dropping shingles above a document-frequency cap, which is
also standard practice for quality (they carry no signal).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators.arrow_kernels import (
    minhash_arrow,
    shingles_arrow,
    simhash_arrow,
)
from bigdatafinalproject_spark.operators.barrier import materialize_barrier
from bigdatafinalproject_spark.operators.layout import TEXT_PIN_BYTES, pin
from bigdatafinalproject_spark.operators.text import norm_text, tokens

_H15 = 15  # hex digits -> 60-bit hash


def _hash64(col: Column, seed: int | Column = 0) -> Column:
    """Portable 60-bit hash (same construction as functions.portable_hash64
    but seed can be a column for per-seed minhashing)."""
    seed_col = seed if isinstance(seed, Column) else F.lit(str(seed))
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", seed_col, col)), 1, _H15), 16, 10
    ).cast("long")


def _normalized(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, _t) normalized text of the docs with at least ``n`` chars,
    pinned by id (``layout.pin``) — the shingle and MinHash kernels'
    input."""
    return pin(
        df.select(F.col(id_col), norm_text(F.col(text_col)).alias("_t")).filter(
            F.length("_t") >= n
        ),
        id_col,
        target_bytes=TEXT_PIN_BYTES,
    )


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 8) -> DataFrame:
    """Distinct char n-gram shingles of normalized text, one row per
    (id, shingle). Docs shorter than n chars produce no shingles.

    Runs the Arrow kernel (operators/arrow_kernels.shingles_arrow):
    Python slicing is code-point indexed like ``substring``, so the
    emitted (id, shingle) set equals the ``array_distinct(transform(
    sequence(...), i -> substring(...)))`` fold the DuckDB oracles
    replay, and the per-doc dedup stays map-side."""
    return shingles_arrow(_normalized(df, text_col, id_col, n), id_col, n)


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized text: returns one row per content group
    (digest, canonical keep id = min id, group size)."""
    return (
        df.select(F.col(id_col), F.md5(norm_text(F.col(text_col))).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _broadcast_overlap_stats(
    train_units: DataFrame,
    bench_units: DataFrame,
    id_col: str,
    unit_col: str,
    n_name: str,
    hit_name: str,
    frac_name: str,
) -> DataFrame:
    """Shared benchmark-overlap skeleton (r10 review: contamination and
    winnow_contamination carried hand-copied twins of this body):
    distinct-reduce the benchmark units, BROADCAST them (eval suites
    are small by construction; if a benchmark outgrows the broadcast
    threshold, drop the hint and Catalyst falls back to a shuffle join
    with identical semantics), left-join-flag the train units, and
    aggregate per train id to (n, hits, hit fraction). The count/sum
    shapes are the oracle-replayed forms — change them here and both
    callers' oracles together."""
    bench = (
        bench_units.select(unit_col).distinct().withColumn("_hit", F.lit(1))
    )
    frac = F.col(hit_name).cast("double") / F.col(n_name)
    return (
        train_units.join(F.broadcast(bench), unit_col, "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias(n_name),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias(hit_name),
        )
        .select(id_col, n_name, hit_name, frac.alias(frac_name))
    )


def contamination(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_benchmark: Column,
    n: int = 8,
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination check: for every non-benchmark (train)
    document, the fraction of its char n-gram shingles that appear in
    ANY benchmark document (``is_benchmark`` rows).

    The benchmark shingle set is distinct-reduced and broadcast — eval
    suites are small by construction, so the train side never shuffles;
    if the benchmark outgrows the broadcast threshold, drop the hint and
    Catalyst falls back to a shuffle join (semantics unchanged).

    Returns (id, n_shingles, n_contaminated, contaminated_frac,
    contaminated:int) for train docs with >= 1 shingle.
    """
    # filter BEFORE shingling: each branch explodes only its own docs
    # (the benchmark slice is a small fraction), and no doc-flag join
    stats = _broadcast_overlap_stats(
        shingles(df.filter(~is_benchmark), text_col, id_col, n),
        shingles(df.filter(is_benchmark), text_col, id_col, n),
        id_col, "shingle",
        "n_shingles", "n_contaminated", "contaminated_frac",
    )
    return stats.withColumn(
        "contaminated",
        (F.col("contaminated_frac") >= flag_threshold).cast("int"),
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 3,
    block: Column | Callable[[Column], Column] | None = None,
) -> DataFrame:
    """Fuzzy string-match pairs by blocked Levenshtein distance.

    Scale design: reduce to the DISTINCT name vocabulary first (for
    catalog-like columns the vocabulary is orders of magnitude smaller
    than the table), then all-pairs ONLY within a blocking key (default:
    the last whitespace token), then exact edit distance <= ``max_dist``.
    The quadratic step runs on (vocab-per-block)^2, never on table rows;
    both vocab sides are small, so Catalyst broadcasts the self-join.

    ``block`` may be a Column expression or a callable taking the name
    Column. NOTE: a Column expression is evaluated AFTER the name
    column is aliased to ``name`` — build it on ``F.col("name")``, or
    (safer) pass a callable and receive the aliased column directly.

    Returns (name_a, name_b, dist) with name_a < name_b.
    """
    name = F.col("name")
    if block is None:
        block = F.element_at(F.split(name, " "), -1)
    elif callable(block):
        block = block(name)
    names = (
        df.select(F.col(name_col).alias("name")).distinct().withColumn("_blk", block)
    )
    a = names.select(F.col("name").alias("name_a"), "_blk")
    b = names.select(F.col("name").alias("name_b"), "_blk")
    return (
        a.join(b, "_blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    threshold: float = 0.8,
    max_doc_freq: int | None = 64,
) -> DataFrame:
    """Jaccard similarity over DF-FILTERED char n-gram shingle sets for
    every pair sharing >= 1 surviving shingle; keeps pairs with
    jaccard >= threshold.

    Returns (id_a, id_b, inter, size_a, size_b, jaccard) with id_a < id_b.

    Shingles present in more than ``max_doc_freq`` documents are
    dropped BEFORE the pair join — they carry no near-dup signal
    (stop-shingles) and their inverted-index lists join quadratically.
    The cap is ABSOLUTE, not a corpus fraction, and that is the scale
    guarantee: per-shingle pair work is O(cap²) regardless of corpus
    size, so total join cost stays linear in the number of surviving
    postings. (An earlier fractional cap — 2% of corpus — let posting
    lists grow with N and measured a 1.66 scaling exponent on the
    sf0.1→sf1 stress bench; the absolute cap restored ~linear.) A
    shingle shared by hundreds of documents is boilerplate at ANY
    corpus size. Pass ``max_doc_freq=None`` for the textbook uncapped
    definition.
    """
    sh = shingles(df, text_col, id_col, n)
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .count()
            .filter(F.col("count") <= F.lit(int(max_doc_freq)).cast("long"))
        )
        sh = sh.join(keep.select("shingle"), "shingle", "left_semi")
    # The surviving shingle set feeds THREE consumers (sizes + both pair
    # sides); without a barrier Spark re-runs the scan->normalize->
    # explode(->semi-join) pipeline for each. Materialize once, pinned
    # on the join key: AQE's byte-based coalescing would shrink this
    # small-bytes but quadratic-compute exchange to one task.
    sh = materialize_barrier(pin(sh, "shingle", target_bytes=TEXT_PIN_BYTES))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("size"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("size").alias("size_b"))
    jac = F.col("inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
    )


_MERSENNE31 = 2147483647  # 2^31 - 1


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 8, num_hashes: int = 16
) -> DataFrame:
    """MinHash signatures: one row per (id, seed) with the min hash over
    the doc's shingle set. Long format on purpose — banding and SQL
    oracles both consume it directly.

    One md5 per (doc, shingle); the ``num_hashes`` functions are affine
    transforms of that base hash mod 2^31-1 (the classic a*h+b family),
    every term fitting int64 (a <= 2k+1, h31 < 2^31).

    Runs the Arrow kernel (operators/arrow_kernels.minhash_arrow):
    shingle slicing, distinct, the portable md5 hash and the k affine
    mins run vectorized per doc with identical arithmetic."""
    return minhash_arrow(
        _normalized(df, text_col, id_col, n), id_col, n, num_hashes, _MERSENNE31
    )


def minhash_band_digests(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Banded MinHash signatures: (id, band, band_digest) — md5 over the
    band's minhashes in seed order. The joinable LSH index shape.

    Runs the Arrow kernel (operators/arrow_kernels.minhash_arrow with
    ``bands``): the band digests come straight out of the signature
    pass, with no collect_list aggregation shuffle."""
    return minhash_arrow(
        _normalized(df, text_col, id_col, n),
        id_col, n, num_hashes, _MERSENNE31, bands=bands,
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band signature (rows of
    ``bands`` bands × ``num_hashes/bands`` minhashes each).

    Returns distinct (id_a, id_b) with id_a < id_b. This is the scale
    path for near-dup detection: the only join is an equi-join on
    (band, band_digest).
    """
    band_sig = minhash_band_digests(df, text_col, id_col, n, num_hashes, bands)
    a = band_sig.select(F.col(id_col).alias("id_a"), "band", "band_digest")
    b = band_sig.select(F.col(id_col).alias("id_b"), "band", "band_digest")
    return (
        a.join(b, on=["band", "band_digest"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, bits: int = 60
) -> DataFrame:
    """SimHash over word tokens: bit j of the signature is the sign of
    sum(token_count * (±1 per token-hash bit j)). Returns (id, simhash
    bigint). 60 bits so the portable hash covers every position."""
    # Runs the Arrow kernel (operators/arrow_kernels.simhash_arrow),
    # which computes the integer math of the exploded (token, bit)
    # aggregation pipeline per doc without generating the
    # (#token-pairs x bits) exploded rows at all.
    d = pin(
        df.select(F.col(id_col), norm_text(F.col(text_col)).alias("_t")),
        id_col,
        target_bytes=TEXT_PIN_BYTES,
    )
    return simhash_arrow(d, id_col, bits)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 60,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the signature into ``bands``
    bit-slices (pigeonhole: hamming <= bands-1 guarantees a shared
    slice; with max_hamming < bands recall is exact), equi-join on
    slices, verify hamming distance on candidates.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    # both band-join sides read the signatures — materialize them once
    sig = materialize_barrier(simhash_signatures(df, text_col, id_col, bits))
    slice_bits = bits // bands
    mask = (1 << slice_bits) - 1
    sliced = sig.select(
        id_col,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "slice",
        F.expr(f"shiftrightunsigned(simhash, band * {slice_bits}) & {mask}"),
    )
    a = sliced.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "band", "slice"
    )
    b = sliced.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "band", "slice"
    )
    cand = (
        a.join(b, on=["band", "slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the production
    shape for continuous ingestion (dedup each crawl against everything
    already kept, not all-pairs over the union).

    Tiers per batch doc: 'exact_dup' (normalized md5 already in the
    corpus), else 'near_dup' (any MinHash band digest collides with a
    corpus band), else 'novel'. Returns (id, status).

    100 TB shape: the corpus collapses to DISTINCT digests and DISTINCT
    (band, band_digest) rows — the persisted dedup index a real
    pipeline keeps between runs; the batch only equi-semi-joins that
    index. No batch x corpus pairs are ever materialized.
    """
    cd = corpus.select(
        F.md5(norm_text(F.col(text_col))).alias("digest")
    ).distinct()
    cb = minhash_band_digests(
        corpus, text_col, id_col, n, num_hashes, bands
    ).select("band", "band_digest").distinct()
    return dedup_status_against_index(
        batch, cd, cb, text_col, id_col, n, num_hashes, bands
    )


def dedup_status_against_index(
    batch: DataFrame,
    digests: DataFrame,
    band_index: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The check half of :func:`incremental_dedup`, against an index
    given as FRAMES — (digests (digest), band_index (band,
    band_digest)) — so the in-query twin (which derives the frames
    from the corpus) and the persisted-index serve path
    (operators/ann_index.dedup_index_check) share one definition and
    cannot diverge (the shared PQ encode pattern). Duplicate
    rows in either index frame are harmless: both joins are
    left_semi. Returns (id, status)."""
    bd = batch.select(
        F.col(id_col), F.md5(norm_text(F.col(text_col))).alias("digest")
    )
    exact_ids = bd.join(digests, "digest", "left_semi").select(id_col)
    bb = minhash_band_digests(batch, text_col, id_col, n, num_hashes, bands)
    near_ids = (
        bb.join(band_index, ["band", "band_digest"], "left_semi")
        .select(id_col)
        .distinct()
    )
    return (
        batch.select(id_col)
        .join(exact_ids.withColumn("_e", F.lit(1)), id_col, "left")
        .join(near_ids.withColumn("_nr", F.lit(1)), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_e").isNotNull(), "exact_dup")
            .when(F.col("_nr").isNotNull(), "near_dup")
            .otherwise("novel")
            .alias("status"),
        )
    )


def segment_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_tokens: int = 16,
    max_docs: int = 1,
) -> DataFrame:
    """C4-style segment-level dedup: split each document into fixed
    ``seg_tokens``-token segments, drop every segment whose text occurs
    in more than ``max_docs`` distinct documents corpus-wide, and
    reassemble the surviving segments in order.

    This is the intra-document tier real pretraining pipelines run
    (C4 drops repeated three-sentence spans; RefinedWeb/Gopher drop
    repeated lines) — exact dedup removes whole-document copies, this
    removes boilerplate SPANS embedded in otherwise-unique documents.

    Returns (id, clean_text, n_segs, n_kept).

    100 TB shape: segmentation is per-row (no shuffle); the banned-
    segment list is a groupBy on segment text with a count-distinct —
    partial-aggregated map-side — and is then used as the small side of
    a LEFT ANTI join (only segments above the frequency cap ship, a
    tiny fraction of the corpus); reassembly is one groupBy on the doc
    id. No step materializes doc x doc pairs.
    """
    s = int(seg_tokens)
    d = pin(
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")),
        id_col,
        target_bytes=TEXT_PIN_BYTES,
    )
    segs = d.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(_toks) - 1) div {s}),"
                f" i -> array_join(slice(_toks, i * {s} + 1, {s}), ' '))"
            )
        ).alias("seg_id", "seg"),
    )
    banned = (
        segs.groupBy("seg")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") > max_docs)
        .select("seg", F.lit(1).alias("_b"))
    )
    # LEFT join the (tiny) banned list as a flag instead of anti-joining
    # and re-deriving totals from a third scan: one pass produces the
    # segment total, the kept count, AND the reassembled text. AQE
    # broadcasts `banned` while it fits; no hint so a huge banned list
    # degrades to a shuffle join instead of an OOM.
    flagged = segs.join(banned, "seg", "left")
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("seg_id", "seg", "_b"))
                    ),
                    lambda st: st.getField("_b").isNull(),
                ),
                lambda st: st.seg,
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("n_segs"),
        F.count(F.when(F.col("_b").isNull(), 1)).cast("int").alias("n_kept"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowed token-k-gram fingerprints — the MOSS document
    fingerprinting scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    hash every k-token gram at every position, then for each window of
    ``w`` consecutive gram hashes select the minimum (ties to the
    RIGHTMOST position — the paper's rule); the selected (position,
    hash) pairs, distinct, are the document's fingerprints.

    The winnowing guarantee: any shared token run of at least
    w + k - 1 tokens between two documents yields at least one COMMON
    fingerprint (the all-inside window of w identical hashes selects
    the same relative argmin in both docs), at an expected fingerprint
    density of only 2/(w+1) of positions — the principled sweet spot
    between exact-substring suffix arrays (stride 1, quadratic-ish
    memory at corpus scale) and fixed SEGMENT dedup
    (:func:`segment_dedup`), which misses any duplicated span that
    straddles a segment boundary or sits at a different alignment.

    Engine-exact: gram hashes are the portable 60-bit md5 hash, the
    per-window argmin is min over a (hash, -pos, pos) struct — pure
    integer lexicographic comparison both engines implement
    identically — and trailing truncated windows (the last w-1
    positions) only ADD selections, preserving the guarantee.

    100 TB shape: gram explosion and window-min are per-doc (one
    shuffle on the doc id at most — the window partitions by doc);
    fingerprint density bounds the output at ~2/(w+1) of token count.
    Returns (id, fp_pos, fp).
    """
    from pyspark.sql import Window as W

    d = pin(
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")),
        id_col,
        target_bytes=TEXT_PIN_BYTES,
    ).filter(F.size("_toks") >= k)
    grams = d.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(_toks) - {k - 1}),"
                f" i -> array_join(slice(_toks, i, {k}), ' '))"
            )
        ).alias("_p0", "_g"),
    )
    scored = grams.select(
        F.col(id_col),
        (F.col("_p0") + 1).alias("pos"),
        _hash64(F.col("_g"), seed="win").alias("_h"),
    )
    win = (
        W.partitionBy(id_col).orderBy("pos").rowsBetween(W.currentRow, w - 1)
    )
    sel = scored.withColumn(
        "_sel",
        F.min(
            F.struct(
                F.col("_h"), (-F.col("pos")).alias("_np"), F.col("pos")
            )
        ).over(win),
    )
    return sel.select(
        F.col(id_col),
        F.col("_sel.pos").alias("fp_pos"),
        F.col("_sel._h").alias("fp"),
    ).distinct()


def winnow_shared_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Cross-document shared-span statistics over winnowed
    fingerprints: per document, how many fingerprints it carries and
    how many of them also appear in at least one OTHER document — the
    span-level duplication signal (boilerplate, quotations, templated
    text) that document-level dedup misses and segment dedup only
    catches at fixed alignments. A fingerprint shared by any shared
    span of >= w + k - 1 tokens is guaranteed present (see
    :func:`winnow_fingerprints`).

    Returns (id, n_fp, n_shared, shared_frac). Never materializes doc
    pairs: 'shared' is a groupBy on the fingerprint hash with a
    distinct-doc count — map-side partial aggregation — joined back as
    a flag.
    """
    fps = materialize_barrier(
        winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    )
    shared = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("fp", F.lit(1).alias("_s"))
    )
    return (
        fps.join(shared, "fp", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(
                F.when(F.col("_s").isNotNull(), 1).otherwise(0)
            ).alias("n_shared"),
        )
        .select(
            F.col(id_col),
            F.col("n_fp"),
            F.col("n_shared").cast("long").alias("n_shared"),
            (F.col("n_shared").cast("double") / F.col("n_fp"))
            .alias("shared_frac"),
        )
    )


def winnow_contamination(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_benchmark: Column,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Span-level benchmark decontamination over winnowed fingerprints
    — the token-n-gram overlap check production pipelines run against
    eval suites (the GPT-3/PaLM-style 13-gram rule), here with the
    winnowing guarantee instead of full gram density: any train doc
    sharing a token run of >= w + k - 1 tokens with ANY benchmark doc
    is caught, while only ~2/(w+1) of gram positions are indexed
    (:func:`winnow_fingerprints`). The char-shingle variant
    (:func:`contamination`) measures full-density surface overlap;
    this tier targets verbatim SPANS at ~40% of the index size.

    Same scale shape as contamination: the benchmark fingerprint set
    is distinct-reduced and broadcast (eval suites are small by
    construction); the train side never shuffles. Returns
    (id, n_fp, n_hit, hit_frac) for train docs with >= k tokens.
    """
    return _broadcast_overlap_stats(
        winnow_fingerprints(df.filter(~is_benchmark), text_col, id_col, k, w),
        winnow_fingerprints(df.filter(is_benchmark), text_col, id_col, k, w),
        id_col, "fp", "n_fp", "n_hit", "hit_frac",
    )


def winnow_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
    max_dup_frac: float = 0.5,
) -> DataFrame:
    """The ACTING tier over winnowed fingerprints (r10 verdict #3:
    :func:`winnow_shared_spans` reports span duplication but nothing
    drops): span-level dedup that KEEPS a document iff at most
    ``max_dup_frac`` of its fingerprints already appear in a
    LOWER-ID document. Canonicalization by min-id — the first doc of
    any duplicated-span family survives, later near-verbatim copies
    (shared-span mass above the threshold) are dropped — the same
    keep-the-smallest-id rule :func:`exact_duplicates` uses, lifted
    from whole-doc digests to alignment-robust spans (any shared run
    of >= w + k - 1 tokens is guaranteed visible, see
    :func:`winnow_fingerprints`).

    Deliberately SINGLE-PASS, not iterative-greedy: a dropped earlier
    doc still suppresses later copies of its spans (its fingerprints
    stay in the reference set), matching how a production pipeline
    dedups an append-ordered corpus against everything already
    ingested — and keeping the rule engine-replayable (one min() per
    fingerprint, no fixpoint).

    Documents with fewer than ``k`` tokens carry no fingerprints and
    are kept with ``dup_frac`` 0.0 (nothing to judge them on).

    100 TB shape: one groupBy on the fingerprint hash (min doc id),
    one join back, one per-doc aggregate — never doc pairs; the
    threshold comparison is exact (counts and an exact-int double
    division). Returns (id, n_fp, n_dup, dup_frac, kept) for EVERY
    input document — callers drop ``kept = 0`` rows.
    """
    fps = materialize_barrier(
        winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    )
    first = fps.groupBy("fp").agg(F.min(id_col).alias("_first"))
    stats = (
        fps.join(first, "fp")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(
                F.when(F.col("_first") < F.col(id_col), 1).otherwise(0)
            ).cast("long").alias("n_dup"),
        )
    )
    all_docs = df.select(F.col(id_col)).join(stats, id_col, "left")
    dup_frac = F.when(
        F.coalesce(F.col("n_fp"), F.lit(0)) == 0, F.lit(0.0)
    ).otherwise(F.col("n_dup").cast("double") / F.col("n_fp"))
    return all_docs.select(
        F.col(id_col),
        F.coalesce(F.col("n_fp"), F.lit(0)).cast("long").alias("n_fp"),
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup"),
        dup_frac.alias("dup_frac"),
        (dup_frac <= max_dup_frac).cast("int").alias("kept"),
    )
