"""Bit-exactness of the r14 Arrow kernels against the expression forms
they replaced.

The whole optimization rests on one claim: dimension-sequential numpy
accumulation reproduces the ``aggregate(zip_with(...))`` left-to-right
double fold bit-for-bit (same IEEE ops in the same order, exact
float32 -> float64 widening). These tests pin that claim two ways:

1. property tests of the numpy primitives against a pure-Python
   sequential fold (the definition both Spark and DuckDB execute);
2. end-to-end equality of each kernel's DataFrame output against the
   original Spark expression pipeline on a deterministic pseudo-random
   corpus, including tie rows (duplicated vectors) so the
   (score, id) tie rules are exercised, not just generic data. The
   dedup kernels (shingles, MinHash, SimHash) are compared the same way
   against the expression folds they replaced, kept here as the
   reference.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators import arrow_kernels as AK


def _fold_dot(xs, cs):
    acc = 0.0
    for x, c in zip(xs, cs):
        acc = acc + float(x) * float(c)
    return acc


def _fold_l2(xs, cs):
    acc = 0.0
    for x, c in zip(xs, cs):
        d = float(x) - float(c)
        acc = acc + d * d
    return acc


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(20260818)


def test_seq_primitives_match_pure_python_fold(rng):
    X32 = (rng.standard_normal((64, 7)) * 3).astype(np.float32)
    C = rng.standard_normal((5, 7))
    X = X32.astype(np.float64)  # exact widening, as CAST(x AS DOUBLE)
    dots = AK.seq_dot(X, C)
    l2s = AK.seq_l2(X, C)
    norms = AK.seq_norm(X)
    for i in range(X.shape[0]):
        for j in range(C.shape[0]):
            assert dots[i, j] == _fold_dot(X32[i], C[j])
            assert l2s[i, j] == _fold_l2(X32[i], C[j])
        assert norms[i] == np.sqrt(_fold_dot(X32[i], X32[i]))


def _corpus(spark, rng, n=300, dim=8):
    # duplicated vectors force exact score ties -> the id tie-break
    # rules are what distinguishes a correct kernel from a close one
    vals = (rng.standard_normal((n, dim)) * 2).astype(np.float32)
    vals[1::7] = vals[0::7][: len(vals[1::7])]
    rows = [(int(i), [float(v) for v in vals[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _cpanel(cents):
    return AK.panel_from_frame(cents, "centroid_id", "_cent", "test centroids")


def _cbpanel(cb):
    return AK.panel_from_frame(cb, "code", "_cw", "test codebook", group_col="s")


def test_topn_centroids_matches_expression_form(spark, rng):
    emb = _corpus(spark, rng)
    cents = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_cent")
    )
    got = AK.topn_centroids_arrow(
        emb, _cpanel(cents), "vec_id", "embedding", 3, "nid", keep_rank=True
    )
    # the original crossJoin + window form
    dot = F.expr(
        "aggregate(zip_with(_v, _cent, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.expr(
            f"aggregate(zip_with({c}, {c}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    v = emb.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("_v")
    ).withColumn("_vn", nrm("_v"))
    cn = cents.withColumn("_cn", nrm("_cent"))
    w = W.partitionBy("nid").orderBy(F.col("_cos").desc(), F.col("centroid_id").asc())
    ref = (
        v.crossJoin(F.broadcast(cn))
        .withColumn("_cos", dot / (F.col("_vn") * F.col("_cn")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("nid", "centroid_id", "_rn")
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_topn_residuals_match_zip_with(spark, rng):
    emb = _corpus(spark, rng, n=60)
    cents = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_cent")
    )
    got = AK.topn_centroids_arrow(
        emb, _cpanel(cents), "vec_id", "embedding", 2, "nid",
        keep_rank=True, emit_residual=True,
    )
    ref = (
        AK.topn_centroids_arrow(
            emb, _cpanel(cents), "vec_id", "embedding", 2, "nid", keep_rank=True
        )
        .join(emb.select(F.col("vec_id").alias("nid"), "embedding"), "nid")
        .join(cents, "centroid_id")
        .select(
            "nid", "centroid_id", "_rn",
            F.expr(
                "zip_with(embedding, _cent, (x, c) -> "
                "CAST(x AS DOUBLE) - CAST(c AS DOUBLE))"
            ).alias("_rv"),
        )
    )
    gl = {(r["nid"], r["centroid_id"]): r["_rv"] for r in got.collect()}
    rl = {(r["nid"], r["centroid_id"]): r["_rv"] for r in ref.collect()}
    assert gl == rl


def test_argmin_matches_min_struct(spark, rng):
    emb = _corpus(spark, rng)
    cents = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    got = AK.argmin_centroids_arrow(
        emb, {0: AK.panel_from_frame(cents, "cid", "centroid", "test")},
        "vec_id", "embedding",
    )
    l2 = F.expr(
        "aggregate(zip_with(embedding, centroid, (x, c) -> "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    ref = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", l2.alias("dist"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("b"))
        .select("vec_id", F.col("b.cid").alias("cid"), F.col("b.dist").alias("dist"))
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_encode_codebook_matches_join_argmin(spark, rng):
    m, dim = 4, 8
    emb = _corpus(spark, rng, n=120, dim=dim)
    frame = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("_v"))
    cb = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .select(F.col("vec_id").alias("code"), F.col("embedding").alias("_v"))
        .select(
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1)).cast("array<int>")).alias("s"),
            "_v",
        )
        .select("code", "s", F.slice("_v", F.col("s") * (dim // m) + 1, dim // m).alias("_cw"))
    )
    got = AK.encode_codebook_arrow(frame, _cbpanel(cb), m, dim, ["nid"])
    sub = dim // m
    l2 = F.expr(
        "aggregate(zip_with(_sv, _cw, (x, c) -> "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    ref = (
        frame.select(
            "nid",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1)).cast("array<int>")).alias("s"),
            "_v",
        )
        .select("nid", "s", F.slice("_v", F.col("s") * sub + 1, sub).alias("_sv"))
        .join(F.broadcast(cb), "s")
        .withColumn("_d", l2)
        .groupBy("nid", "s")
        .agg(F.min(F.struct("_d", "code")).alias("_b"))
        .select("nid", "s", F.col("_b.code").alias("code"))
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_pair_cosine_and_norms_match_folds(spark, rng):
    emb = _corpus(spark, rng, n=80)
    pairs = (
        emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("_va"))
        .crossJoin(
            emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("_vb"))
        )
        .filter((F.col("a") < F.col("b")) & (F.col("b") - F.col("a") < 5))
    )
    got = AK.pair_cosine_arrow(pairs, ["a", "b"], "_va", "_vb", "cosine")
    dot = F.expr(
        "aggregate(zip_with(_va, _vb, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.expr(
            f"aggregate(zip_with({c}, {c}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    ref = pairs.select(
        "a", "b", (dot / (nrm("_va") * nrm("_vb"))).alias("cosine")
    )
    assert _sorted_rows(got) == _sorted_rows(ref)
    gn = AK.norms_arrow(emb, "vec_id", "embedding", "_n")
    rn = emb.select("vec_id", nrm("embedding").alias("_n"))
    assert _sorted_rows(gn) == _sorted_rows(rn)


def test_cosine_topk_arrow_matches_crossjoin_window(spark, rng):
    emb = _corpus(spark, rng, n=200)
    queries = emb.filter(F.col("vec_id") % 23 == 0)
    got = AK.cosine_topk_arrow(
        emb.repartition(7),
        AK.panel_from_frame(queries, "vec_id", "embedding", "test queries"),
        "vec_id", "embedding", 5,
    )
    dot = F.expr(
        "aggregate(zip_with(_qv, _cv, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.expr(
            f"aggregate(zip_with({c}, {c}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    ).withColumn("_qn", nrm("_qv"))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    ).withColumn("_cn", nrm("_cv"))
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    ref = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", (dot / (F.col("_qn") * F.col("_cn"))).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_adc_lookup_and_coarse_terms_match_folds(spark, rng):
    m, dim, scale = 4, 8, 1_000_000
    emb = _corpus(spark, rng, n=90, dim=dim)
    queries = emb.filter(F.col("vec_id") % 11 == 0)
    cb = (
        emb.filter(F.col("vec_id") % 41 == 0)
        .select(F.col("vec_id").alias("code"), F.col("embedding").alias("_v"))
        .select(
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1)).cast("array<int>")).alias("s"),
            "_v",
        )
        .select("code", "s", F.slice("_v", F.col("s") * (dim // m) + 1, dim // m).alias("_cw"))
    )
    got = AK.adc_lookup_arrow(
        queries, _cbpanel(cb), m, dim, scale, "vec_id", "embedding"
    )
    sub = dim // m
    pdot = F.expr(
        "aggregate(zip_with(_sv, _cw, (x, c) -> "
        "CAST(x AS DOUBLE) * CAST(c AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    ref = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_v"))
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1)).cast("array<int>")).alias("s"),
            "_v",
        )
        .select("query_id", "s", F.slice("_v", F.col("s") * sub + 1, sub).alias("_sv"))
        .join(F.broadcast(cb), "s")
        .select("query_id", "s", "code", F.floor(pdot * scale).cast("long").alias("_pq"))
    )
    assert _sorted_rows(got) == _sorted_rows(ref)

    cents = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_cent")
    )
    probes = queries.select(F.col("vec_id").alias("query_id")).crossJoin(
        cents.select("centroid_id")
    )
    gotc = AK.coarse_terms_arrow(
        probes,
        AK.panel_from_frame(queries, "vec_id", "embedding", "test queries"),
        _cpanel(cents), scale,
    )
    dot2 = F.expr(
        "aggregate(zip_with(_qv, _cent, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    refc = (
        probes.join(
            queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")),
            "query_id",
        )
        .join(cents, "centroid_id")
        .select("query_id", "centroid_id", F.floor(dot2 * scale).cast("long").alias("_qc"))
    )
    assert _sorted_rows(gotc) == _sorted_rows(refc)


def test_quantized_scan_arrow_matches_crossjoin_fold(spark, rng):
    from bigdatafinalproject_spark.operators.ann import _with_int8

    emb = _corpus(spark, rng, n=200)
    queries = emb.filter(F.col("vec_id") % 23 == 0)
    c = _with_int8(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id", "embedding", "_c",
    )
    q = _with_int8(
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        "query_id", "embedding", "_q",
    )
    got = AK.quantized_scan_arrow(
        c.repartition(7), AK.panel_from_frame(q, "query_id", "_qq", "test"), 6
    )
    qcos = F.expr(
        "CAST(aggregate(zip_with(_qq, _cq, (x, y) -> "
        "CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
    ) / (
        F.sqrt(F.col("_qn2").cast("double"))
        * F.sqrt(F.col("_cn2").cast("double"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("_qcos").desc(), F.col("neighbor_id").asc()
    )
    ref = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", qcos.alias("_qcos"))
        .withColumn("_qrank", F.row_number().over(w))
        .filter(F.col("_qrank") <= 6)
        .select("query_id", "neighbor_id")
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_zero_norm_error_names_kernel_and_ids(spark, rng):
    emb = _corpus(spark, rng, n=40)
    zero = spark.createDataFrame(
        [(4242, [0.0] * 8)], "vec_id bigint, embedding array<float>"
    )
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_cent")
    )
    got = AK.topn_centroids_arrow(
        emb.unionByName(zero), _cpanel(cents), "vec_id", "embedding", 2, "nid"
    )
    with pytest.raises(Exception) as err:
        got.collect()
    msg = str(err.value)
    assert "topn_centroids_arrow" in msg and "4242" in msg


def test_seq_norm_names_rows_without_ids():
    X = np.array([[1.0, 2.0], [0.0, 0.0], [3.0, 4.0]])
    with pytest.raises(ValueError, match=r"my_kernel: .*row\(s\) \[1\]"):
        AK.seq_norm(X, "my_kernel")
    with pytest.raises(ValueError, match=r"id\(s\) \[77\]"):
        AK.seq_norm(X, "my_kernel", np.array([5, 77, 9]))


def test_package_zip_is_private_to_the_process_and_removed_at_exit():
    import subprocess
    import sys
    import tempfile
    from pathlib import Path

    from tests.conftest import REPO

    script = (
        f"import sys; sys.path.insert(0, {str(REPO)!r})\n"
        "from bigdatafinalproject_spark.operators import arrow_kernels as AK\n"
        "import os, zipfile\n"
        "p = AK._package_zip()\n"
        "assert 'bigdatafinalproject_spark/operators/arrow_kernels.py' "
        "in zipfile.ZipFile(p).namelist()\n"
        "print(os.getpid(), p)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    pid, path = out.stdout.split()
    zpath = Path(path)
    assert zpath.parent == Path(tempfile.gettempdir())
    # never the bare pid name a dead process with a reused pid left
    assert zpath.name != f"bdfp_pkg_{pid}.zip"
    assert not zpath.exists()


# -- dedup kernels against their expression folds ---------------------

_M31 = 2147483647


def _docs(spark, rng, n_random=40):
    """Hand-picked edge cases plus pseudo-random docs over a vocabulary
    with accented, CJK and astral-plane words."""
    fixed = [
        "The quick brown fox jumps over the lazy dog",
        "the  QUICK brown\tfox jumps over the lazy dog!",
        "abcabcabcabcabc abcabcabc",  # repeated shingles
        "short",  # shorter than n=8
        "ab",  # shorter than n=3
        "Ünïcödé straße — 東京タワー 東京タワー 😀😀😀 naïve café",
        None,
        "   ",  # normalizes to ""
        "x" * 40,  # one shingle, many times
        "a b a b a b c",  # repeated tokens
    ]
    vocab = ["alpha", "beta", "gamma", "über", "façade", "東京", "データ",
             "😀", "naïve", "the", "a", "zz"]
    rand = [
        " ".join(rng.choice(vocab, size=int(rng.integers(1, 12))))
        for _ in range(n_random)
    ]
    rows = [(i, t) for i, t in enumerate(fixed + rand)]
    return spark.createDataFrame(rows, "id bigint, text string")


def _norm(docs):
    from bigdatafinalproject_spark.operators.text import norm_text

    return docs.select("id", norm_text(F.col("text")).alias("_t"))


def _shingles_fold(docs, n):
    """The per-doc array_distinct(transform(...)) shingle fold."""
    arr = F.expr(
        f"array_distinct(transform(sequence(1, length(_t) - {n - 1}),"
        f" i -> substring(_t, i, {n})))"
    )
    return (
        _norm(docs)
        .filter(F.length("_t") >= n)
        .select("id", F.explode(arr).alias("shingle"))
    )


def _minhash_fold(docs, n, k):
    """k parallel affine min-aggregates over the shingle rows, unpivoted
    with stack."""
    from bigdatafinalproject_spark.operators.dedup import _hash64

    base = _shingles_fold(docs, n).withColumn(
        "_h31", _hash64(F.col("shingle")) % _M31
    )
    wide = base.groupBy("id").agg(
        *[
            F.min(((2 * i + 1) * F.col("_h31") + i * 12345 + 678) % _M31).alias(
                f"_mh_{i}"
            )
            for i in range(k)
        ]
    )
    stack_args = ", ".join(f"{i}, _mh_{i}" for i in range(k))
    return wide.select(
        "id", F.expr(f"stack({k}, {stack_args}) AS (seed, minhash)")
    ).select("id", F.col("seed").cast("int"), "minhash")


def _band_digest_fold(docs, n, k, bands):
    """md5 of each band's minhashes joined with ',' in seed order."""
    return (
        _minhash_fold(docs, n, k)
        .withColumn("band", (F.col("seed") / (k // bands)).cast("int"))
        .groupBy("id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                        lambda s: s["minhash"].cast("string"),
                    ),
                )
            ).alias("band_digest")
        )
    )


def _simhash_fold(docs, bits):
    """Exploded (token, bit) pipeline: bit j is set iff
    sum(cnt * (±1 per token-hash bit j)) > 0."""
    from bigdatafinalproject_spark.operators.dedup import _hash64
    from bigdatafinalproject_spark.operators.text import tokens

    counts = (
        docs.select("id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("th", _hash64(F.col("token")))
    )
    per_bit = (
        counts.select(
            "id", "cnt", "th",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        )
        .withColumn(
            "contrib",
            F.col("cnt") * F.expr("(int(shiftrightunsigned(th, bit) & 1) * 2 - 1)"),
        )
        .groupBy("id", "bit")
        .agg(F.sum("contrib").alias("bitsum"))
    )
    return per_bit.groupBy("id").agg(
        F.sum(
            F.when(F.col("bitsum") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


@pytest.mark.parametrize("n", [3, 8])
def test_shingles_and_minhash_kernels_match_folds(spark, rng, n):
    docs = _docs(spark, rng)
    # the kernels get every doc, short and null ones included: skipping
    # docs shorter than n is part of the contract under test
    src = _norm(docs).repartition(3)
    got = _sorted_rows(AK.shingles_arrow(src, "id", n))
    assert got == _sorted_rows(_shingles_fold(docs, n))
    assert any(not t.isascii() for _, t in got)
    assert _sorted_rows(AK.minhash_arrow(src, "id", n, 16, _M31)) == (
        _sorted_rows(_minhash_fold(docs, n, 16))
    )
    assert _sorted_rows(AK.minhash_arrow(src, "id", n, 16, _M31, bands=4)) == (
        _sorted_rows(_band_digest_fold(docs, n, 16, 4))
    )


def test_simhash_kernel_matches_fold(spark, rng):
    docs = _docs(spark, rng)
    got = AK.simhash_arrow(_norm(docs).repartition(3), "id", 60)
    ref = _sorted_rows(_simhash_fold(docs, 60))
    assert _sorted_rows(got) == ref
    assert len(ref) == docs.filter(F.col("text").isNotNull()).count()


# -- LSH kernel --------------------------------------------------------


def test_lsh_signatures_ship_the_package(spark, monkeypatch):
    """The LSH kernel references package functions, so it must ship the
    package like every other kernel: a session that has not seen the
    zip gets it added when the signatures are built."""
    from bigdatafinalproject_spark.operators.ann import lsh_signatures

    monkeypatch.setattr(AK, "_SHIPPED", set())
    emb = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id bigint, embedding array<float>"
    )
    lsh_signatures(emb)
    assert spark.sparkContext.applicationId in AK._SHIPPED


def test_stream_lsh_index_equals_batch_signatures(spark):
    from bigdatafinalproject_spark.catalog import load_table
    from bigdatafinalproject_spark.operators.ann import lsh_signatures
    from bigdatafinalproject_spark.streaming.embeddings import stream_lsh_index
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    streamed = _sorted_rows(stream_lsh_index(spark, SF_DIR))
    assert streamed == _sorted_rows(lsh_signatures(emb))
    assert len(streamed) == 3 * emb.count()


# -- panel builders ----------------------------------------------------


def _write_centroid_parquet(tmp_path, rng):
    import pyarrow as pa
    import pyarrow.parquet as papq

    paths = []
    for f, ids in enumerate([[5, 1, 3], [4, 2, 0]]):
        p = str(tmp_path / f"part-{f}.parquet")
        papq.write_table(
            pa.table(
                {
                    "centroid_id": pa.array(ids, pa.int64()),
                    "s": pa.array([i % 2 for i in ids], pa.int32()),
                    "_cent": pa.array(
                        [rng.standard_normal(4).tolist() for _ in ids],
                        pa.list_(pa.float64()),
                    ),
                }
            ),
            p,
        )
        paths.append(p)
    return paths


def test_panel_builders_agree(spark, rng, tmp_path):
    paths = _write_centroid_parquet(tmp_path, rng)
    frame = spark.read.parquet(*paths)
    ids, mat = AK.panel_from_parquet([str(tmp_path)], "centroid_id", "_cent")
    fids, fmat = AK.panel_from_frame(frame, "centroid_id", "_cent", "test")
    assert ids.tolist() == fids.tolist() == [0, 1, 2, 3, 4, 5]
    assert np.array_equal(mat, fmat)
    grouped = AK.panel_from_parquet(paths, "centroid_id", "_cent", "s")
    fgrouped = AK.panel_from_frame(frame, "centroid_id", "_cent", "test", "s")
    assert sorted(grouped) == sorted(fgrouped) == [0, 1]
    for g in (0, 1):
        assert grouped[g][0].tolist() == fgrouped[g][0].tolist()
        assert np.array_equal(grouped[g][1], fgrouped[g][1])
    assert grouped[0][0].tolist() == [0, 2, 4]


def test_panel_cap_checked_before_reading(rng, tmp_path, monkeypatch):
    import pyarrow.parquet as papq

    paths = _write_centroid_parquet(tmp_path, rng)

    class _NoRead:
        def __init__(self, *a, **k):
            raise AssertionError("parquet data read before the cap check")

    monkeypatch.setattr(AK, "_COLLECT_CAP", 5)
    monkeypatch.setattr(papq, "ParquetDataset", _NoRead)
    with pytest.raises(ValueError, match="panel_from_parquet") as err:
        AK.panel_from_parquet(paths, "centroid_id", "_cent")
    assert paths[0] in str(err.value) and "6 rows" in str(err.value)


def test_panel_from_frame_cap_error_names_source(spark, monkeypatch):
    monkeypatch.setattr(AK, "_COLLECT_CAP", 2)
    cents = spark.createDataFrame(
        [(i, [float(i)]) for i in range(3)], "cid bigint, centroid array<double>"
    )
    with pytest.raises(ValueError, match=r"my_op centroids: panel has 3 rows"):
        AK.panel_from_frame(cents, "cid", "centroid", "my_op centroids")


def test_assign_rejects_composite_group_keys(spark):
    from bigdatafinalproject_spark.operators.clustering import _assign

    emb = spark.createDataFrame(
        [(1, 0, 0, [1.0])], "vec_id bigint, a int, b int, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, 0, 7, [1.0])], "a int, b int, cid bigint, centroid array<double>"
    )
    with pytest.raises(ValueError, match=r"clustering\._assign.*\('a', 'b'\)"):
        _assign(emb, cents, "vec_id", "embedding", ("a", "b"))


@pytest.mark.parametrize(
    "name", ["ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk"]
)
def test_topk_query_collects_each_quantizer_panel_once(
    spark, monkeypatch, name
):
    """The end-to-end quantizer queries hand the panels their build
    half collected to the search half, so building the query collects
    each centroid/codebook panel exactly once (one Spark job each)."""
    from bigdatafinalproject_spark import registry
    from bigdatafinalproject_spark.operators import ann
    from tests.conftest import SF_DIR

    real = ann.panel_from_frame
    sources: list[str] = []

    def counting(frame, id_col, vec_col, source, *a, **kw):
        sources.append(source)
        return real(frame, id_col, vec_col, source, *a, **kw)

    monkeypatch.setattr(ann, "panel_from_frame", counting)
    registry.QUERIES[name](spark, SF_DIR)
    quantizers = [
        s for s in sources if s.endswith((" centroids", " codebook"))
    ]
    kinds = [s.rsplit(" ", 1)[1] for s in quantizers]
    assert sorted(kinds) == sorted(set(kinds)), quantizers
    want = {"ann_ivf_topk": {"centroids"}, "ann_pq_topk": {"codebook"},
            "ann_ivfpq_topk": {"centroids", "codebook"}}[name]
    assert set(kinds) == want, quantizers


# -- MMR walk ----------------------------------------------------------


def _mmr_loop_fold(corpus, cand, k, lam_num=7, pen_num=3, scale=1 << 30):
    """The reference fold: the MMR walk as k DataFrame steps — a
    candidate-pair self-join scored by ``pair_cosine_arrow``, then per
    pick an anti-join, a max-sim aggregate and a struct-max argmax over
    (score, -cid), each step behind a barrier."""
    from bigdatafinalproject_spark.operators.barrier import materialize_barrier

    cand = materialize_barrier(cand)
    en = corpus.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    pa_ = cand.select("query_id", F.col("cid").alias("a"))
    pb_ = cand.select("query_id", F.col("cid").alias("b"))
    sims = materialize_barrier(
        AK.pair_cosine_arrow(
            pa_.join(pb_, "query_id")
            .filter(F.col("a") != F.col("b"))
            .join(en.select(F.col("_id").alias("a"), F.col("_v").alias("_va")), "a")
            .join(en.select(F.col("_id").alias("b"), F.col("_v").alias("_vb")), "b"),
            ["query_id", "a", "b"], "_va", "_vb", "_cos",
        ).select(
            "query_id", "a", "b",
            F.floor(F.col("_cos") * scale).cast("long").alias("sim_q"),
        )
    )
    first = cand.groupBy("query_id").agg(
        F.max(F.struct(F.col("rel_q"), (-F.col("cid")).alias("negid"))).alias("best")
    )
    sel_all = materialize_barrier(
        first.select(
            "query_id",
            F.lit(1).cast("int").alias("pick"),
            (-F.col("best.negid")).alias("cid"),
            F.col("best.rel_q").alias("rel_q"),
            (F.lit(lam_num) * F.col("best.rel_q")).alias("mmr_q"),
        )
    )
    for step in range(2, k + 1):
        rem = cand.join(
            sel_all.select("query_id", "cid"), ["query_id", "cid"], "left_anti"
        )
        pen = (
            sims.join(
                sel_all.select("query_id", F.col("cid").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("cid"))
            .agg(F.max("sim_q").alias("p"))
        )
        best = (
            rem.join(pen, ["query_id", "cid"])
            .groupBy("query_id")
            .agg(
                F.max(
                    F.struct(
                        (
                            F.lit(lam_num) * F.col("rel_q")
                            - F.lit(pen_num) * F.col("p")
                        ).alias("mmr_q"),
                        (-F.col("cid")).alias("negid"),
                        F.col("rel_q"),
                    )
                ).alias("best")
            )
        )
        nxt = materialize_barrier(
            best.select(
                "query_id",
                F.lit(step).cast("int").alias("pick"),
                (-F.col("best.negid")).alias("cid"),
                F.col("best.rel_q").alias("rel_q"),
                F.col("best.mmr_q").alias("mmr_q"),
            )
        )
        sel_all = sel_all.unionByName(nxt)
    return sel_all.select(
        "query_id", "pick", F.col("cid").alias("vec_id"), "rel_q", "mmr_q"
    )


def _mmr_cands(spark, rows):
    return spark.createDataFrame(rows, "query_id bigint, cid bigint, rel_q bigint")


def test_mmr_walk_matches_loop_fold(spark, rng):
    """The grouped kernel reproduces the k-step walk pick for pick on
    the cases that decide a greedy walk: equal rel_q at the top (pick
    1's tie), distinct ids sharing a vector with equal rel_q (equal
    mmr_q at every later step), a one-candidate query, and k at and
    above the candidate count."""
    from bigdatafinalproject_spark.operators.ann import mmr_from_candidates

    emb = _corpus(spark, rng, n=120)  # ids 7j and 7j+1 share a vector
    top = 1 << 30
    rows = []
    for q in range(6):
        cids = rng.choice(120, size=12, replace=False)
        rel = rng.integers(0, 4, size=12) * (top // 4)
        rows += [(q, int(c), int(r)) for c, r in zip(cids, rel)]
    # shared vectors with equal relevance: mmr ties after every pick
    rows += [(6, c, top // 2) for c in (0, 1, 7, 8, 14, 15)]
    rows += [(6, 30, top - 5), (6, 31, top - 5)]
    rows += [(7, 42, 123)]  # one candidate
    rows += [(8, 50, 10), (8, 51, 10), (8, 63, 9)]
    cand = _mmr_cands(spark, rows)
    assert cand.groupBy("query_id", "rel_q").count().filter("count > 1").count()
    for k in (1, 4, 13):
        got = mmr_from_candidates(emb, cand, k=k)
        want = _mmr_loop_fold(emb, cand, k)
        assert _sorted_rows(got) == _sorted_rows(want), k
    picks = {r.query_id: r.pick for r in got.groupBy("query_id").agg(
        F.max("pick").alias("pick")).collect()}
    assert picks[6] == 8 and picks[7] == 1 and picks[8] == 3


def test_mmr_walk_contract_errors_name_the_query(spark, rng):
    """A candidate without a corpus vector (the loop silently dropped
    it after pick 1), a duplicate cid, and a candidate set above
    _MMR_GROUP_CAP each fail the query with a ValueError naming it."""
    from bigdatafinalproject_spark.operators.ann import mmr_from_candidates

    n = AK._MMR_GROUP_CAP + 1
    emb = _corpus(spark, rng, n=n)
    cases = [
        ([(3, 1, 9), (3, 4, 8), (3, 999_999, 7)], r"query 3: cid\(s\) \[999999\] have no corpus vector"),
        ([(4, 1, 9), (4, 2, 8), (4, 2, 7)], r"query 4: duplicate cid\(s\) \[2\]"),
        ([(5, c, c) for c in range(n)], rf"query 5 has {n} candidates \(cap {n - 1}\)"),
    ]
    for rows, msg in cases:
        with pytest.raises(Exception, match=msg):
            mmr_from_candidates(emb, _mmr_cands(spark, rows)).collect()


def test_mmr_queries_build_without_walk_jobs(spark):
    """Building the two MMR queries runs only the candidate tier's
    construction jobs (the query panel, the index serve's panels): the
    walk itself is one lazy grouped kernel and runs no job while the
    query is built. Counted on a warm second build."""
    from bigdatafinalproject_spark import registry
    from tests.conftest import SF_DIR

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for name, cap in (("ann_mmr_diversified", 4), ("ann_mmr_from_index", 8)):
        registry.QUERIES[name](spark, SF_DIR)
        j0 = dag.nextJobId()
        registry.QUERIES[name](spark, SF_DIR)
        assert dag.nextJobId() - j0 <= cap, name
