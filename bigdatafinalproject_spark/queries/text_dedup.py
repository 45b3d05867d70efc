"""Dedup + text-analysis queries over the documents table (net-new
LLM-pipeline surface; BASELINE.json north star).

Each oracle replays the exact operator semantics in DuckDB SQL — all
hashing is md5-derived (portable), all divisions double-on-exact-ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatafinalproject_spark.catalog import load_table, scratch_dir
from bigdatafinalproject_spark.functions import oracle_bucket, oracle_hash64
from bigdatafinalproject_spark.operators import dedup as D
from bigdatafinalproject_spark.operators import text as T
from bigdatafinalproject_spark.registry import query

# shard key for sequence packing (must match pack_sequences' bucket args)
_PACK_SHARD = oracle_bucket("doc_id", 16, seed=5)

# Shared SQL fragments (DuckDB): normalized text and token list.
_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKS = f"string_split({_NORM}, ' ')"
_SW_EN = "'the','a','of','and','to','in','is','it','that','for'"

# char-8-gram shingle CTEs reused by jaccard/minhash oracles
_SHINGLE_CTE = f"""
    d AS (SELECT doc_id, {_NORM} AS t FROM documents WHERE length({_NORM}) >= 8),
    sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 8) AS shingle
           FROM d, LATERAL unnest(range(1, length(t) - 6)) AS u(i))
"""

# document-frequency filter: drop stop-shingles (> 64 docs) before any
# pair join — mirrors ngram_jaccard_pairs' ABSOLUTE cap (per-shingle
# pair work O(cap²) at any corpus size; a fractional cap scales
# superlinearly — measured 1.66 exponent on the sf0.1→sf1 stress bench)
_SHF_CTE = """
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh
            JOIN (SELECT shingle FROM sh GROUP BY shingle
                  HAVING COUNT(*) <= 64) k
            USING (shingle))
"""

# affine minhash family over one base hash (mod 2^31-1)
_MH_EXPR = (
    "((2 * CAST(s AS INT) + 1) * "
    "(('0x' || substr(md5(concat_ws('|', '0', shingle)), 1, 15))::BIGINT % 2147483647) "
    "+ CAST(s AS INT) * 12345 + 678) % 2147483647"
)


@query(
    "doc_exact_dups",
    oracle=f"""
    SELECT md5({_NORM}) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY digest
    """,
)
def doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups on normalized text (hash-groupBy tier)."""
    return D.exact_duplicates(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "doc_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_NORM} AS nt, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
           CAST(length(nt) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len
    FROM t
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + type/token ratio."""
    return T.token_stats(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "doc_quality",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             CAST(length(text) AS INT) AS raw_len,
             CAST(length(lower(text))
                  - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS INT)
                 AS punct,
             {_TOKS} AS toks
      FROM documents),
    r AS (
      SELECT doc_id, raw_len, CAST(len(toks) AS INT) AS n_tokens,
             CAST(punct AS DOUBLE) / raw_len AS punct_ratio,
             CAST(len(list_filter(toks, x -> x IN ({_SW_EN}))) AS DOUBLE) / len(toks)
                 AS stopword_ratio
      FROM c)
    SELECT doc_id, raw_len AS n_chars, n_tokens, punct_ratio, stopword_ratio,
           1.0 - least(punct_ratio * 2, 0.5)
               - CASE WHEN stopword_ratio < 0.05 THEN 0.25 ELSE 0.0 END
               - CASE WHEN n_tokens < 10 THEN 0.25 ELSE 0.0 END AS quality
    FROM r
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punctuation / stopword-ratio signals."""
    return T.quality_score(load_table(spark, sf_dir, "documents"), "text", "doc_id")


def _lang_oracle() -> str:
    from bigdatafinalproject_spark.operators.text import STOPWORDS

    selects = []
    for lang, ws in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in ws)
        selects.append(
            f"SELECT doc_id, '{lang}' AS pred_lang, "
            f"CAST(len(list_intersect(toks, [{lst}])) AS INT) AS score FROM t"
        )
    union = "\n      UNION ALL ".join(selects)
    return f"""
    WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
    scores AS ({union}),
    r AS (SELECT doc_id, pred_lang, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, pred_lang) AS rn
          FROM scores)
    SELECT doc_id, pred_lang, score FROM r WHERE rn = 1
    """


@query("doc_language_id", oracle=_lang_oracle())
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword voting with deterministic tie-break."""
    return T.language_id(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/duplication-invariant content fingerprint (Broder style)."""
    return T.fingerprint(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "doc_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_SHF_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
              FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
           CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
    FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
    """,
)
def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs over DF-filtered shingles
    (inverted-index join; the stop-shingle cap keeps the join linear-ish
    — see ngram_jaccard_pairs docstring for the 100× numbers)."""
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", n=8, threshold=0.8
    )


@query(
    "doc_minhash_sigs",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT doc_id, CAST(s AS INT) AS seed, MIN({_MH_EXPR}) AS minhash
    FROM sh, LATERAL unnest(range(0, 16)) AS u(s)
    GROUP BY doc_id, seed
    """,
)
def doc_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (one md5 per shingle + 16 affine hash
    functions, long format)."""
    return D.minhash_signatures(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", n=8, num_hashes=16
    )


@query(
    "doc_minhash_candidates",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    mh AS (SELECT doc_id, CAST(s AS INT) AS seed, MIN({_MH_EXPR}) AS minhash
           FROM sh, LATERAL unnest(range(0, 16)) AS u(s)
           GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
                         AS band_digest
              FROM mh GROUP BY doc_id, band)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_digest = b.band_digest
                AND a.doc_id < b.doc_id
    """,
)
def doc_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (4 bands × 4 rows) — the scale path
    for near-dup detection."""
    return D.minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=8,
        num_hashes=16,
        bands=4,
    )


_SIMHASH_CTE = f"""
    tc AS (SELECT doc_id, token, COUNT(*) AS cnt
           FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
           GROUP BY doc_id, token),
    th AS (SELECT doc_id, cnt,
                  ('0x' || substr(md5(concat_ws('|', '0', token)), 1, 15))::BIGINT AS th
           FROM tc),
    pb AS (SELECT doc_id, CAST(b AS INT) AS bit,
                  SUM(cnt * (((th >> CAST(b AS INT)) & 1) * 2 - 1)) AS bitsum
           FROM th, LATERAL unnest(range(0, 60)) AS u(b)
           GROUP BY doc_id, bit),
    sig AS (SELECT doc_id,
                   CAST(SUM(CASE WHEN bitsum > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM pb GROUP BY doc_id)
"""


@query(
    "doc_simhash",
    oracle=f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sig",
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signatures over word tokens."""
    return D.simhash_signatures(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "doc_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    sl AS (SELECT doc_id, simhash, CAST(b AS INT) AS band,
                  (simhash >> (CAST(b AS INT) * 15)) & 32767 AS slice
           FROM sig, LATERAL unnest(range(0, 4)) AS u(b)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS sig_a, b.simhash AS sig_b
             FROM sl a JOIN sl b ON a.band = b.band AND a.slice = b.slice
                                AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """,
)
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via bit-slice banding (pigeonhole-exact
    recall for hamming <= 3 with 4 slices)."""
    return D.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        bits=60,
        max_hamming=3,
        bands=4,
    )


@query(
    "doc_tfidf_top_terms",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM t GROUP BY doc_id, token),
    dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    s AS (SELECT doc_id, token, tf, df,
                 CAST(tf * ((n_docs * 1000000) // df) AS BIGINT) AS score_scaled
          FROM tf JOIN dfq USING (token), nd)
    SELECT doc_id, token, tf, df, score_scaled, CAST(rn AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_scaled DESC, token ASC) AS rn
          FROM s)
    WHERE rn <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. The idf is the integer-scaled
    rational ``(n_docs * 1e6) div df`` rather than ``ln(n_docs/df)``:
    JVM and DuckDB ``ln`` differ in the last ulp (measured ~7% of
    inputs), while 64-bit integer arithmetic is exact everywhere and
    preserves the df-ranking. Plan shape: explode -> two hash aggs ->
    broadcast of the 1-row corpus count -> per-doc top-k window; the
    only per-token state is the (token, df) table."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    s = (
        tf.join(dfq, "token")
        .crossJoin(F.broadcast(nd))
        .withColumn("score_scaled", F.expr("tf * ((n_docs * 1000000) div df)"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score_scaled").desc(), F.col("token").asc())
    return (
        s.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "score_scaled", "rnk")
    )


# SimHash banding -> near pairs -> symmetric edges -> min-label walk;
# `comp(doc_id, component)` is shared by doc_neardup_components and
# doc_neardup_canonical (identical text to the r1-green components
# oracle — only factored into a constant).
_NEARDUP_COMP_CTE = f"""
    {_SIMHASH_CTE},
    sl AS (SELECT doc_id, simhash, CAST(b AS INT) AS band,
                  (simhash >> (CAST(b AS INT) * 15)) & 32767 AS slice
           FROM sig, LATERAL unnest(range(0, 4)) AS u(b)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS sig_a, b.simhash AS sig_b
             FROM sl a JOIN sl b ON a.band = b.band AND a.slice = b.slice
                                AND a.doc_id < b.doc_id),
    pairs AS (SELECT id_a, id_b FROM cand
              WHERE bit_count(xor(sig_a, sig_b)) <= 3),
    e AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b AS s, id_a AS d FROM pairs),
    walk(node, label) AS (
      SELECT s, s FROM e
      UNION
      SELECT e.s, w.label FROM e JOIN walk w ON w.node = e.d
    ),
    comp AS (SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS component
             FROM walk GROUP BY node)
"""


@query(
    "doc_neardup_components",
    oracle=f"""
    WITH RECURSIVE {_NEARDUP_COMP_CTE}
    SELECT doc_id, component FROM comp
    """,
)
def doc_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: SimHash near-dup pairs grouped into connected
    components by iterative min-label propagation
    (operators/components.py — diameter-bounded rounds, lineage cut per
    round). Output: every clustered doc labeled with its component's
    minimum doc_id, i.e. the canonical keeper."""
    from bigdatafinalproject_spark.operators.components import connected_components

    pairs = D.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        bits=60, max_hamming=3, bands=4,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("node").alias("doc_id"), "component")


@query(
    "doc_neardup_canonical",
    oracle=f"""
    WITH RECURSIVE {_NEARDUP_COMP_CTE},
    qc AS (SELECT doc_id,
                  CAST(length(text) AS INT) AS raw_len,
                  CAST(length(lower(text))
                       - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS INT)
                      AS punct,
                  {_TOKS} AS toks
           FROM documents),
    qr AS (SELECT doc_id,
                  CAST(punct AS DOUBLE) / raw_len AS punct_ratio,
                  CAST(len(list_filter(toks, x -> x IN ({_SW_EN}))) AS DOUBLE) / len(toks)
                      AS stopword_ratio,
                  CAST(len(toks) AS INT) AS n_tokens
           FROM qc),
    q AS (SELECT doc_id,
                 1.0 - least(punct_ratio * 2, 0.5)
                     - CASE WHEN stopword_ratio < 0.05 THEN 0.25 ELSE 0.0 END
                     - CASE WHEN n_tokens < 10 THEN 0.25 ELSE 0.0 END AS quality
          FROM qr),
    j AS (SELECT comp.component, comp.doc_id, q.quality
          FROM comp JOIN q USING (doc_id)),
    r AS (SELECT component, doc_id, quality,
                 row_number() OVER (PARTITION BY component
                                    ORDER BY quality DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY component) AS n_members
          FROM j)
    SELECT component, doc_id AS keep_doc_id, quality AS keep_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM r WHERE rn = 1
    """,
)
def doc_neardup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection — the dedup-pipeline stage AFTER
    clustering: each near-dup component keeps its highest-quality
    member (tie-break: lowest doc_id), the rest are dropped. Composes
    the SimHash components with the quality scorer; the argmax is ONE
    aggregation pass (max over (quality, -doc_id) structs — lexical
    struct ordering gives the tie-break for free), not a window, so at
    100 TB it is a single partial+final shuffle on component with no
    per-group sort. The oracle replays components + quality and takes
    the same argmax via row_number."""
    from bigdatafinalproject_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_pairs(
        docs, "text", "doc_id", bits=60, max_hamming=3, bands=4
    )
    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    q = T.quality_score(docs, "text", "doc_id").select("doc_id", "quality")
    j = comp.join(q, "doc_id")
    agg = j.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(
            F.struct(
                F.col("quality"),
                (-F.col("doc_id")).cast("long").alias("negid"),
            )
        ).alias("best"),
    )
    return agg.select(
        "component",
        (-F.col("best.negid")).alias("keep_doc_id"),
        F.col("best.quality").alias("keep_quality"),
        "n_members",
    )


@query(
    "doc_sequence_packing",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id,
             {_PACK_SHARD} AS shard,
             CAST(len({_TOKS}) AS INT) AS tok
      FROM documents),
    d AS (SELECT doc_id, shard, tok,
                 CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id)
                      AS INT) AS rn
          FROM base),
    walk(shard, rn, doc_id, tok, bin, fill) AS (
      SELECT shard, rn, doc_id, tok, 0, tok FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.tok,
             CASE WHEN w.fill + d.tok <= 512 THEN w.bin ELSE w.bin + 1 END,
             CASE WHEN w.fill + d.tok <= 512 THEN w.fill + d.tok ELSE d.tok END
      FROM walk w JOIN d ON d.shard = w.shard AND d.rn = w.rn + 1)
    SELECT doc_id, CAST(shard AS INT) AS shard, CAST(bin AS INT) AS bin, tok
    FROM walk
    """,
)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy first-fit of docs into 512-token bins,
    sharded 16 ways by portable hash for parallelism
    (operators/packing.py). The greedy scan is inherently sequential so
    it runs per-shard inside applyInPandas; the oracle replays it with
    a linear recursive CTE advancing every shard one doc per step."""
    from bigdatafinalproject_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_sequences(
        d, "doc_id", "n_tokens", capacity=512, num_shards=16, seed=5
    )


@query(
    "doc_substring_scrub",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    occ AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM toks, LATERAL unnest(generate_series(1, len(t) - 2)) AS u(i)
            WHERE len(t) >= 3),
    freq AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) >= 6),
    cov AS (SELECT DISTINCT occ.doc_id, c.cp
            FROM occ JOIN freq USING (g),
                 LATERAL unnest(generate_series(occ.pos, occ.pos + 2)) AS c(cp)),
    covn AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id),
    alltok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
               FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)),
    keptagg AS (SELECT a.doc_id,
                       string_agg(a.tok, ' ' ORDER BY a.pos) AS scrubbed
                FROM alltok a
                LEFT JOIN cov ON cov.doc_id = a.doc_id AND cov.cp = a.pos
                WHERE cov.doc_id IS NULL
                GROUP BY a.doc_id)
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(COALESCE(cn.n_removed, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(k.scrubbed, '')) AS scrubbed_md5
    FROM documents d
    LEFT JOIN covn cn ON cn.doc_id = d.doc_id
    LEFT JOIN keptagg k ON k.doc_id = d.doc_id
    """,
)
def doc_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-n-gram boilerplate scrubbing (exact-substring-dedup
    style, the 6th dedup tier): corpus-frequent word trigrams are
    removed from every document and the text reassembled. Per-doc array
    transforms + one global count + equi cover join — no unbounded
    windows (operators/text.scrub_frequent_ngrams)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.scrub_frequent_ngrams(docs, "text", "doc_id", n=3, min_count=6)


@query(
    "doc_incremental_dedup",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    mh AS (SELECT doc_id, CAST(s AS INT) AS seed, MIN({_MH_EXPR}) AS minhash
           FROM sh, LATERAL unnest(range(0, 16)) AS u(s)
           GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
                         AS band_digest
              FROM mh GROUP BY doc_id, band),
    dg AS (SELECT doc_id, md5({_NORM}) AS digest FROM documents),
    corpus_dg AS (SELECT DISTINCT digest FROM dg WHERE doc_id % 5 <> 0),
    corpus_b AS (SELECT DISTINCT band, band_digest FROM bands
                 WHERE doc_id % 5 <> 0),
    e AS (SELECT DISTINCT dg.doc_id FROM dg
          JOIN corpus_dg USING (digest) WHERE dg.doc_id % 5 = 0),
    nr AS (SELECT DISTINCT b.doc_id FROM bands b
           JOIN corpus_b USING (band, band_digest) WHERE b.doc_id % 5 = 0)
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS status
    FROM documents d
    LEFT JOIN e ON e.doc_id = d.doc_id
    LEFT JOIN nr ON nr.doc_id = d.doc_id
    WHERE d.doc_id % 5 = 0
    """,
)
def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — a NEW batch (every 5th doc) deduped against
    the EXISTING corpus (the rest): exact digest tier, then MinHash
    band-collision tier, via semi-joins against the corpus's distinct
    digest/band index. The continuous-ingestion production shape: no
    batch x corpus pairs, the corpus collapses to its dedup index
    (operators/dedup.incremental_dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return D.incremental_dedup(corpus, batch, "text", "doc_id")


# --- persisted dedup index lifecycle (the index-machinery pattern the
# ANN family established, applied to the dedup family: build/serve
# split, CAS-serialized maintenance, compaction, streaming) ---
#
# All four queries share the doc_incremental_dedup oracle: digest and
# band extraction are row-local, so (a) serving the persisted index
# equals deriving it in-query (persistence theorem), (b) build(base) ⊎
# append(delta) equals build(corpus) after DISTINCT — and the check is
# left_semi, invariant to duplicate index rows (maintenance theorem),
# (c) streaming appends equal one-shot appends (streaming theorem),
# (d) compaction is content-neutral (compaction theorem). Each green
# driver row is the corresponding theorem checked end-to-end.

# the ONE copy of the extraction params lives at the operator layer
# (operators/ann_index.DEDUP_INDEX_PARAMS — r10 review: a drift in a
# hand-copied quintuple would split the shared index cache and surface
# only as an opaque oracle hash mismatch)


def _dedup_idx_params() -> dict:
    from bigdatafinalproject_spark.operators.ann_index import (
        DEDUP_INDEX_PARAMS,
    )

    return dict(DEDUP_INDEX_PARAMS)


def _maintained_dedup_clone(spark: SparkSession, sf_dir: str, scratch: str) -> str:
    """Shared maintenance history for the append and compact queries
    (r10 review: the build-base/clone/two-appends choreography was
    duplicated, so a one-sided edit would make the two theorems test
    different histories): build the base index once per corpus
    fingerprint, clone it writer-private, append the delta as two
    even/odd batches. Returns the maintained index dir."""
    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann_index import (
        clone_index,
        corpus_fingerprint,
        dedup_index_append,
        ensure_dedup_index,
        shared_index_dir,
    )
    from bigdatafinalproject_spark.streaming.dedup import (
        DEDUP_BASE_PRED,
        DEDUP_DELTA_PRED,
    )

    params = _dedup_idx_params()
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.expr(DEDUP_BASE_PRED))
    delta = docs.filter(F.expr(DEDUP_DELTA_PRED))
    fp = corpus_fingerprint(
        table_path(sf_dir, "documents"), base_pred=DEDUP_BASE_PRED,
        **params,
    )
    cached = ensure_dedup_index(
        spark, base, shared_index_dir("dedup", fp), fp,
        src=table_path(sf_dir, "documents"), subset=DEDUP_BASE_PRED,
        **params,
    )
    idx = clone_index(cached, scratch_dir(sf_dir, scratch))
    dedup_index_append(
        spark, idx, delta.filter(F.col("doc_id") % 2 == 0), batch_id=0
    )
    dedup_index_append(
        spark, idx, delta.filter(F.col("doc_id") % 2 != 0), batch_id=1
    )
    return idx


@query("doc_dedup_index_check", oracle_of="doc_incremental_dedup")
def doc_dedup_index_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-dedup-index serve path: the corpus's distinct
    digest/band tables are built ONCE per corpus fingerprint
    (operators/ann_index.ensure_dedup_index, cross-process cache) and
    the batch is deduped against the PERSISTED index — the production
    crawl-dedup shape, where the index outlives any single run and
    the corpus is never re-hashed per batch. Shares the
    doc_incremental_dedup oracle (persistence theorem)."""
    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann_index import (
        corpus_fingerprint,
        dedup_index_check,
        ensure_dedup_index,
        shared_index_dir,
    )
    from bigdatafinalproject_spark.streaming.dedup import (
        DEDUP_BATCH_PRED,
        DEDUP_CORPUS_PRED,
    )

    params = _dedup_idx_params()
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.expr(DEDUP_CORPUS_PRED))
    batch = docs.filter(F.expr(DEDUP_BATCH_PRED))
    fp = corpus_fingerprint(
        table_path(sf_dir, "documents"), base_pred=DEDUP_CORPUS_PRED,
        **params,
    )
    idx = ensure_dedup_index(
        spark, corpus, shared_index_dir("dedup", fp), fp,
        src=table_path(sf_dir, "documents"), subset=DEDUP_CORPUS_PRED,
        **params,
    )
    return dedup_index_check(spark, idx, batch)


@query("doc_dedup_index_append", oracle_of="doc_incremental_dedup")
def doc_dedup_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the persisted dedup index: the index
    is built on a BASE subset of the corpus (2/3 of it), the remaining
    corpus docs arrive as two append batches (CAS-claimed writers,
    batch-id idempotence, footer-delta accounting), and the standing
    batch is deduped against the maintained index. Because extraction
    is row-local and the check is left_semi, the maintained index
    answers EXACTLY like one built on the full corpus — the shared
    oracle (maintenance theorem). Unlike the ANN kinds there is no
    drift: nothing is trained, so append-between-rebuilds is lossless,
    which is why dedup indexes at 100 TB are append-only plus
    occasional compaction, never retrained."""
    from bigdatafinalproject_spark.operators.ann_index import (
        dedup_index_check,
    )
    from bigdatafinalproject_spark.streaming.dedup import DEDUP_BATCH_PRED

    idx = _maintained_dedup_clone(spark, sf_dir, "dedupappendidx")
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.expr(DEDUP_BATCH_PRED))
    return dedup_index_check(spark, idx, batch)


@query("doc_dedup_index_compact", oracle_of="doc_incremental_dedup")
def doc_dedup_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction of the appended dedup index: the per-batch digest/
    band file sets rewrite into size-targeted files under the same CAS
    claim + invalidate-then-recommit protocol (compact_index covers
    the dedup kind through _APPEND_TABLES), then the standing batch is
    deduped against the compacted index. RAISES unless compaction
    reduced the digest-table file count; shares the
    doc_incremental_dedup oracle (content-neutrality theorem for the
    dedup layout)."""
    from bigdatafinalproject_spark.operators.ann_index import (
        compact_index,
        dedup_index_check,
    )
    from bigdatafinalproject_spark.streaming.dedup import DEDUP_BATCH_PRED

    idx = _maintained_dedup_clone(spark, sf_dir, "dedupcompactidx")
    docs = load_table(spark, sf_dir, "documents")
    stats = compact_index(spark, idx)
    before, after = stats["digests"]
    if after >= before:
        raise RuntimeError(
            f"dedup compaction did not reduce digest files: {before} -> {after}"
        )
    batch = docs.filter(F.expr(DEDUP_BATCH_PRED))
    return dedup_index_check(spark, idx, batch)


@query("doc_dedup_index_minor_compact", oracle_of="doc_incremental_dedup")
def doc_dedup_index_minor_compact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Size-tiered MINOR compaction on the persisted dedup index
    (operators/ann_index.minor_compact_index): the delta docs arrive
    as THREE crawl batches; the minor pass merges the two aged-out
    batches' digest/band units into one L1 unit per table — the base
    tier (the bulk of the index) is never rewritten and the newest
    batch keeps its unit and its retractability. This is THE cadence
    shape for a 100 TB crawl-dedup index: full compact_index rewrites
    the whole digest table (O(index)), minor compaction moves only the
    appended tier (O(appended)), and on a minor cadence the per-batch
    file-count growth the BDFP_INDEX_COMPACT_WARN_BATCHES warning
    exists for never accumulates. RAISES unless the pass folded
    exactly the aged batches, merged their digest files, kept the
    newest batch's provenance, and a folded batch refuses retraction.
    Rewrite-only, so the standing-batch check shares the
    doc_incremental_dedup oracle (minor-compaction content-neutrality
    for the dedup layout)."""
    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        clone_index,
        corpus_fingerprint,
        dedup_index_append,
        dedup_index_check,
        ensure_dedup_index,
        minor_compact_index,
        retract_batch,
        shared_index_dir,
    )
    from bigdatafinalproject_spark.streaming.dedup import (
        DEDUP_BASE_PRED,
        DEDUP_BATCH_PRED,
        DEDUP_DELTA_PRED,
    )

    params = _dedup_idx_params()
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.expr(DEDUP_BASE_PRED))
    delta = docs.filter(F.expr(DEDUP_DELTA_PRED))
    fp = corpus_fingerprint(
        table_path(sf_dir, "documents"), base_pred=DEDUP_BASE_PRED,
        **params,
    )
    cached = ensure_dedup_index(
        spark, base, shared_index_dir("dedup", fp), fp,
        src=table_path(sf_dir, "documents"), subset=DEDUP_BASE_PRED,
        **params,
    )
    idx = clone_index(cached, scratch_dir(sf_dir, "dedupminorcidx"))
    # delta is the doc_id%3==0 (mod-5-excluded) stripe — split it by
    # doc_id%9 so all three crawl batches are non-empty
    for b in range(3):
        dedup_index_append(
            spark, idx, delta.filter(F.col("doc_id") % 9 == 3 * b),
            batch_id=b,
        )
    pre = _manifest(idx)
    res = minor_compact_index(spark, idx, keep_recent=1)
    mid = _manifest(idx)
    merged_files, after_files = res["tables"].get("digests", (0, 0))
    if not (
        res["folded"] == [0, 1]
        and res["kept"] == [2]
        and after_files < merged_files
        and sorted(mid.get("batches", {})) == ["2"]
        and len(mid["units"]["digests"]) == len(pre["units"]["digests"]) - 1
        and int(mid["appended_rows"]) == int(pre["appended_rows"])
    ):
        raise RuntimeError(
            f"dedup minor compaction did not tier as specified: {res}, "
            f"{pre['units']['digests']} -> {mid['units']['digests']}"
        )
    try:
        retract_batch(idx, 0)
        raise RuntimeError("retracting a FOLDED dedup batch must raise")
    except ValueError:
        pass  # folded into the base tier — the documented refusal
    batch = docs.filter(F.expr(DEDUP_BATCH_PRED))
    return dedup_index_check(spark, idx, batch)


@query("doc_dedup_index_retract", oracle_of="doc_incremental_dedup")
def doc_dedup_index_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch RETRACTION on the persisted dedup index (r13 — the
    manifest-referenced-units payoff): the maintained index un-ingests
    its even-doc batch via operators/ann_index.retract_batch — an
    O(manifest) metadata flip plus a unit-dir GC, never a data rewrite
    (the production shape for a poisoned/contaminated crawl batch or a
    provider takedown at 100 TB). Because appends store each batch's
    distinct rows without cross-batch dedup, retraction is EXACTLY
    "the batch never ingested"; the even docs are then re-appended
    under a new batch id, so the final index is content-identical to
    the plain maintained clone and the standing-batch check shares the
    doc_incremental_dedup oracle (the retraction theorem). RAISES
    unless the retraction actually dropped the batch's digest unit and
    row accounting."""
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        dedup_index_append,
        dedup_index_check,
        retract_batch,
    )
    from bigdatafinalproject_spark.streaming.dedup import (
        DEDUP_BATCH_PRED,
        DEDUP_DELTA_PRED,
    )

    idx = _maintained_dedup_clone(spark, sf_dir, "dedupretractidx")
    docs = load_table(spark, sf_dir, "documents")
    before = _manifest(idx)
    retract_batch(idx, 0)
    after = _manifest(idx)
    if len(after["units"]["digests"]) >= len(before["units"]["digests"]):
        raise RuntimeError(
            "retraction did not drop the batch's digest unit: "
            f"{before['units']['digests']} -> {after['units']['digests']}"
        )
    if int(after["appended_rows"]) >= int(before["appended_rows"]):
        raise RuntimeError(
            "retraction did not reduce appended_rows: "
            f"{before['appended_rows']} -> {after['appended_rows']}"
        )
    if after.get("retracted") != ["0"] or "0" in after.get("batches", {}):
        raise RuntimeError("retraction ledger not recorded")
    # re-ingest the same content under a NEW batch id (the caller's
    # explicit act — the retracted id itself stays an idempotent skip)
    delta = docs.filter(F.expr(DEDUP_DELTA_PRED))
    dedup_index_append(
        spark, idx, delta.filter(F.col("doc_id") % 2 == 0), batch_id=2
    )
    batch = docs.filter(F.expr(DEDUP_BATCH_PRED))
    return dedup_index_check(spark, idx, batch)


@query("stream_dedup_index_maintenance", oracle_of="doc_incremental_dedup")
def stream_dedup_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING dedup-index maintenance
    (streaming/dedup.stream_dedup_index_maintenance): the delta
    documents arrive as a multi-batch file stream, each micro-batch's
    digests/bands appended exactly once (manifest batch ids; a live
    post-drain redelivery of chunk 0 is an idempotent skip), then the
    standing batch is deduped against the maintained index. No
    retrain-trigger protocol, deliberately: nothing is trained, so
    appends carry zero drift (see the streaming module docstring).
    Shares the doc_incremental_dedup oracle (streaming theorem)."""
    from bigdatafinalproject_spark.streaming.dedup import (
        stream_dedup_index_maintenance as _impl,
    )

    return _impl(spark, sf_dir)


# --- winnowed span-level dedup (MOSS fingerprinting) ---

# k-token grams, winnow window (guarantee: w+k-1 = 8 tokens). Tied to
# the persisted-index params (r11): the in-query tier and the
# dedup-index winnow_fps table must winnow identically or the
# persisted-check theorem (doc_winnow_index_contamination sharing the
# in-query oracle) breaks — one source of truth, like the
# digest/band quintuple.
from bigdatafinalproject_spark.operators.ann_index import (
    DEDUP_INDEX_PARAMS as _DIP,
)

_WIN_K, _WIN_W = int(_DIP["win_k"]), int(_DIP["win_w"])
# the shared portable-hash SQL helper (r10 review: a hand-built copy
# of the 60-bit construction would silently diverge if the helper's
# digit count ever changed)
_WIN_HASH = oracle_hash64(
    f"array_to_string(list_slice(t, u.i, u.i + {_WIN_K - 1}), ' ')",
    seed="win",
)


# shared winnow CTE chain tk -> grams -> sel -> fps (fingerprints of
# EVERY document; winnowing is per-doc, so downstream oracles split by
# doc attributes after the fact — identical to filtering first)
_WIN_FPS_CTES = f"""
    tk AS (SELECT doc_id, {_TOKS} AS t FROM documents
                WHERE len({_TOKS}) >= {_WIN_K}),
    grams AS (SELECT doc_id, CAST(u.i AS INT) AS pos, {_WIN_HASH} AS h
              FROM tk, LATERAL unnest(range(1, len(t) - {_WIN_K - 2})) AS u(i)),
    sel AS (SELECT doc_id,
                   min({{'h': h, 'np': -pos, 'pos': pos}}) OVER
                       (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS s
            FROM grams),
    fps AS (SELECT DISTINCT doc_id, s.pos AS fp_pos, s.h AS fp FROM sel)"""


@query(
    "doc_winnow_spans",
    oracle=f"""
    WITH {_WIN_FPS_CTES},
    shared AS (SELECT fp FROM fps GROUP BY fp
               HAVING COUNT(DISTINCT doc_id) > 1),
    agg AS (SELECT fps.doc_id, COUNT(*) AS n_fp,
                   SUM(CASE WHEN shared.fp IS NOT NULL THEN 1 ELSE 0 END)
                       AS n_shared
            FROM fps LEFT JOIN shared ON shared.fp = fps.fp
            GROUP BY fps.doc_id)
    SELECT doc_id, CAST(n_fp AS BIGINT) AS n_fp,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_shared AS DOUBLE) / n_fp AS shared_frac
    FROM agg
    """,
)
def doc_winnow_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SPAN-level duplication via winnowed MOSS
    fingerprints (operators/dedup.winnow_fingerprints): every shared
    token run of >= w+k-1 = 8 tokens between any two documents is
    GUARANTEED to surface as a common fingerprint, at a fingerprint
    density of only ~2/(w+1) of positions — the alignment-robust tier
    between exact-substring suffix arrays (which don't distribute) and
    fixed segment dedup (doc_segment_dedup, which misses spans that
    straddle segment boundaries or sit at different alignments).
    Returns per doc: fingerprint count, fingerprints shared with any
    other doc, shared fraction. The oracle replays gram hashing, the
    per-window (hash, -pos) struct argmin, fingerprint distinct-ing,
    and the shared-count aggregation verbatim — all integer arithmetic
    except the final exact-int double division."""
    docs = load_table(spark, sf_dir, "documents")
    return D.winnow_shared_spans(docs, "text", "doc_id", k=_WIN_K, w=_WIN_W)


_WIN_DUP_FRAC = 0.5  # drop a doc when > half its fingerprints are pre-owned


@query(
    "doc_winnow_dedup",
    oracle=f"""
    WITH {_WIN_FPS_CTES},
    first AS (SELECT fp, MIN(doc_id) AS fid FROM fps GROUP BY fp),
    agg AS (SELECT fps.doc_id, COUNT(*) AS n_fp,
                   SUM(CASE WHEN first.fid < fps.doc_id THEN 1 ELSE 0 END)
                       AS n_dup
            FROM fps JOIN first USING (fp)
            GROUP BY fps.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(a.n_fp, 0) AS BIGINT) AS n_fp,
           CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup,
           CASE WHEN COALESCE(a.n_fp, 0) = 0 THEN 0.0
                ELSE a.n_dup / CAST(a.n_fp AS DOUBLE) END AS dup_frac,
           CAST(CASE WHEN COALESCE(a.n_fp, 0) = 0 THEN 1
                     WHEN a.n_dup / CAST(a.n_fp AS DOUBLE)
                          <= {_WIN_DUP_FRAC} THEN 1
                     ELSE 0 END AS INT) AS kept
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
)
def doc_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTING tier over winnowed spans (r10 verdict #3:
    doc_winnow_spans reports, nothing drops): span-level dedup that
    KEEPS a document iff at most half its fingerprints already appear
    in a LOWER-ID document (operators/dedup.winnow_dedup) — the
    min-id canonicalization of doc_exact_dups lifted from whole-doc
    digests to alignment-robust spans: the first doc of any
    duplicated-span family survives; later near-verbatim copies drop.
    Single-pass by design (a dropped earlier doc still suppresses
    later copies — how a production pipeline dedups an append-ordered
    corpus against everything already ingested, and the only form
    that is engine-replayable without a fixpoint). Short docs
    (< k tokens, no fingerprints) are kept with dup_frac 0. At the
    driver SFs the 0.5 threshold drops ~24 of 500 docs — the planted
    near-duplicate tail. The oracle replays gram hashing, window
    argmin, the min-id-per-fingerprint rule, and the exact threshold
    comparison verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    return D.winnow_dedup(
        docs, "text", "doc_id", k=_WIN_K, w=_WIN_W,
        max_dup_frac=_WIN_DUP_FRAC,
    )


@query(
    "doc_winnow_contamination",
    oracle=f"""
    WITH {_WIN_FPS_CTES},
    bfp AS (SELECT DISTINCT f.fp FROM fps f
            JOIN documents d ON d.doc_id = f.doc_id
            WHERE d.source = 'src0'),
    tr AS (SELECT f.doc_id, f.fp FROM fps f
           JOIN documents d ON d.doc_id = f.doc_id
           WHERE d.source <> 'src0')
    SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
           CAST(SUM(CASE WHEN bfp.fp IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN bfp.fp IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS hit_frac
    FROM tr LEFT JOIN bfp ON bfp.fp = tr.fp
    GROUP BY tr.doc_id
    """,
)
def doc_winnow_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination
    (operators/dedup.winnow_contamination): the token-n-gram overlap
    check production pipelines run against eval suites (the
    GPT-3/PaLM 13-gram rule), with the winnowing guarantee — any
    train doc sharing a run of >= 8 tokens with the benchmark slice
    (source = 'src0', the doc_contamination split) is caught at only
    ~2/(w+1) of full gram density; the char-shingle variant
    (doc_contamination) measures full-density surface overlap, this
    tier targets verbatim spans at ~40% of the index size. Benchmark
    fingerprints distinct-reduced and broadcast, train side never
    shuffles. The oracle computes fingerprints once over all docs and
    splits by source afterwards — identical to filtering first
    because winnowing is per-doc."""
    d = load_table(spark, sf_dir, "documents")
    return D.winnow_contamination(
        d, "text", "doc_id", F.col("source") == "src0",
        k=_WIN_K, w=_WIN_W,
    )


_WINNOW_IDX_BASE_PRED = "doc_id % 3 <> 0"  # predicate AND cache salt


@query(
    "doc_winnow_index_contamination",
    oracle_of="doc_winnow_contamination",
)
def doc_winnow_index_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERSISTED span-level decontamination (VERDICT r10 #4): a
    production pipeline decontaminates every incoming crawl batch
    against a FIXED eval suite, so the suite's winnowed fingerprints
    live in the persisted dedup index (the r11 ``winnow_fps`` table)
    rather than being recomputed per run. The index is built on a
    base corpus subset, the rest arrives as two append batches (CAS
    writers, batch idempotence — fingerprints of appended benchmark
    docs join the table), and the full train slice is checked against
    the MAINTAINED table. Shares the in-query oracle
    (doc_winnow_contamination): extraction is per-doc and the check
    distinct-reduces, so persisted ≡ maintained ≡ in-query — the same
    persistence+maintenance theorem the r10 dedup index proved for
    digests/bands, now for the decontamination tier."""
    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann_index import (
        clone_index,
        corpus_fingerprint,
        dedup_index_append,
        dedup_index_contamination,
        ensure_dedup_index,
        shared_index_dir,
    )

    params = _dedup_idx_params()
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.expr(_WINNOW_IDX_BASE_PRED))
    delta = docs.filter(~F.expr(_WINNOW_IDX_BASE_PRED))
    fp = corpus_fingerprint(
        table_path(sf_dir, "documents"),
        base_pred=_WINNOW_IDX_BASE_PRED, **params,
    )
    cached = ensure_dedup_index(
        spark, base, shared_index_dir("dedup", fp), fp,
        src=table_path(sf_dir, "documents"),
        subset=_WINNOW_IDX_BASE_PRED, **params,
    )
    idx = clone_index(cached, scratch_dir(sf_dir, "winnowcontamidx"))
    dedup_index_append(
        spark, idx, delta.filter(F.col("doc_id") % 2 == 0), batch_id=0
    )
    dedup_index_append(
        spark, idx, delta.filter(F.col("doc_id") % 2 != 0), batch_id=1
    )
    batch = docs.filter(F.col("source") != "src0")
    return dedup_index_contamination(spark, idx, batch)
