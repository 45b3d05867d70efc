"""Text-analysis operators for training-data pipelines (net-new surface,
SURVEY §7.7 / BASELINE.json north star — no reference equivalent).

All pure column expressions (JVM-side, codegen'd): language-ID by
stopword voting, quality scoring, token statistics, document
fingerprinting. Each has an exactly-equivalent ANSI-SQL formulation so
the DuckDB oracle can verify values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators.layout import TEXT_PIN_BYTES, pin

# Tiny per-language stopword lists (public common function words).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "de", "et", "un", "une", "les", "des", "en", "que"),
    "de": ("der", "die", "das", "und", "ein", "eine", "zu", "mit", "ist", "von"),
    "es": ("el", "la", "de", "y", "un", "una", "los", "en", "que", "por"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}


def norm_text(col: Column) -> Column:
    """lower + collapse whitespace + trim. SQL equivalent:
    ``lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))``."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text (no empties by construction).
    SQL equivalent: ``string_split(norm, ' ')``."""
    return F.split(norm_text(col), " ")


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc token counts: total, distinct, type/token ratio, mean
    token length (exact integer arithmetic then one double division)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    norm_len = F.length(norm_text(F.col(text_col)))
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        (nd.cast("double") / n).alias("ttr"),
        ((norm_len - (n - 1)).cast("double") / n).alias("mean_token_len"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality signals: length, punctuation ratio, stopword
    ratio, and a composite score. Everything is exact-int counting plus
    double arithmetic in a fixed order, so it is engine-portable."""
    raw = F.col(text_col)
    norm = norm_text(raw)
    toks = F.split(norm, " ")
    n = F.size(toks)
    raw_len = F.length(raw)
    # characters outside [a-z0-9 space] after lowering = "punctuation-ish"
    punct = F.length(F.lower(raw)) - F.length(
        F.regexp_replace(F.lower(raw), "[^a-z0-9 ]", "")
    )
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"])))
    punct_ratio = punct.cast("double") / raw_len
    sw_ratio = sw.cast("double") / n
    score = (
        F.lit(1.0)
        - F.least(punct_ratio * 2, F.lit(0.5))
        - F.when(sw_ratio < 0.05, 0.25).otherwise(0.0)
        - F.when(n < 10, 0.25).otherwise(0.0)
    )
    return df.select(
        F.col(id_col),
        raw_len.alias("n_chars"),
        n.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        sw_ratio.alias("stopword_ratio"),
        score.alias("quality"),
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """N-gram-free language ID: vote by stopword-hit count per language
    over the distinct token set; deterministic tie-break by (score desc,
    lang asc). Returns (id, pred_lang, score)."""
    toks = F.array_distinct(tokens(F.col(text_col)))
    scored = df.select(
        F.col(id_col),
        *[
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))).alias(
                f"_s_{lang}"
            )
            for lang, ws in STOPWORDS.items()
        ],
    )
    # ONE pass: stack unpivots the per-language scores (a 5-way union of
    # the same projection would tokenize + intersect every document five
    # times — the uncached branches each re-evaluate the scan)
    stack_args = ", ".join(f"'{lang}', _s_{lang}" for lang in STOPWORDS)
    long = scored.select(
        F.col(id_col),
        F.expr(f"stack({len(STOPWORDS)}, {stack_args}) AS (pred_lang, score)"),
    )
    w = W.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("pred_lang").asc())
    return (
        long.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    tokens taken by the single most frequent token, and the fraction of
    duplicated bigrams. High values mark boilerplate / degenerate text a
    training pipeline should drop.

    Everything is a pure per-row array expression — no shuffle, no UDF;
    a corpus scan parallelizes embarrassingly. top-token counting is
    O(distinct x tokens) per row, fine for web-scale short docs; for
    book-length texts swap in the explode + groupBy(id, token) + window
    formulation (same outputs, shuffle-based).

    Returns (id, n_tokens:int, top_token_cnt:int, top_token_frac:double,
    dup_bigram_frac:double, repetitive:int).
    """
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    n = F.size("toks")
    top_cnt = F.array_max(
        F.expr("transform(array_distinct(toks), x -> size(filter(toks, t -> t = x)))")
    )
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "  transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1])) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    b = d.select(
        F.col(id_col),
        n.alias("n_tokens"),
        top_cnt.alias("top_token_cnt"),
        bigrams.alias("_bg"),
    )
    nb = F.size("_bg")
    dup_frac = F.when(
        nb > 0, (nb - F.size(F.array_distinct("_bg"))).cast("double") / nb
    ).otherwise(F.lit(0.0))
    top_frac = F.col("top_token_cnt").cast("double") / F.col("n_tokens")
    return b.select(
        F.col(id_col),
        "n_tokens",
        "top_token_cnt",
        top_frac.alias("top_token_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac > 0.2) | (dup_frac > 0.2)).cast("int").alias("repetitive"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Broder-style document fingerprint: md5 over the sorted distinct
    token set — invariant to token order/duplication, so reordered or
    repeated-content docs collide (that is the point). Returns
    (id, fingerprint)."""
    toks = F.array_sort(F.array_distinct(tokens(F.col(text_col))))
    return df.select(
        F.col(id_col),
        F.md5(F.concat_ws(" ", toks)).alias("fingerprint"),
    )


def scrub_frequent_ngrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_count: int = 6,
) -> DataFrame:
    """Boilerplate scrubbing in the style of exact-substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): any word n-gram occurring >= ``min_count`` times in the
    corpus is boilerplate; every token position covered by such an
    n-gram is removed and the document reassembled from the survivors.

    100 TB shape: per-doc n-gram generation is an O(len) array
    transform (no explode-to-shuffle until the count), the global
    frequency count is one map-side-combinable groupBy, the cover join
    is equi on the n-gram string, and reassembly is per-doc array ops
    on bounded covered-position sets — no unbounded window anywhere.

    Returns (id, n_tokens, n_removed, scrubbed_md5): md5 of the
    reassembled text keeps the driver comparison O(1) per row.
    """
    t = F.split(F.col(text_col), " ")
    ndoc = F.size(t)
    base = pin(
        df.select(F.col(id_col), t.alias("_t")), id_col, target_bytes=TEXT_PIN_BYTES
    )
    nb = F.size("_t")
    grams = F.when(
        nb >= n,
        F.transform(
            F.sequence(F.lit(0), nb - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("_t"), i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select(F.col(id_col), F.posexplode(grams).alias("pos", "g"))
    frequent = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("g")
    )
    cov = (
        occ.join(frequent, "g")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("cpos"),
        )
        .distinct()
    )
    covn = cov.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nrm"))
    # reassembly via exploded anti-join + ordered re-agg: all codegen'd
    # row pipelines and bounded per-doc groups (a per-token
    # array_contains fold would run interpreted and quadratic per doc)
    alltok = base.select(F.col(id_col), F.posexplode("_t").alias("pos", "tok"))
    cov_k = cov.select(F.col(id_col).alias("_cid"), F.col("cpos"))
    kept = alltok.join(
        cov_k,
        (F.col(id_col) == F.col("_cid")) & (F.col("pos") == F.col("cpos")),
        "left_anti",
    )
    scrubbed = kept.groupBy(id_col).agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("_md5")
    )
    return (
        df.join(covn, id_col, "left")
        .join(scrubbed, id_col, "left")
        .select(
            F.col(id_col),
            ndoc.cast("long").alias("n_tokens"),
            F.coalesce(F.col("_nrm"), F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce(F.col("_md5"), F.md5(F.lit(""))).alias("scrubbed_md5"),
        )
    )
