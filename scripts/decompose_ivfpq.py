"""Stage-level decomposition of the heavy ANN trainer queries (r14 §1).

Times each eager phase of ann_ivfpq_topk / ann_ivfpq_recall separately
(the barriers inside the build are eager jobs, so wall-clock decomposes
cleanly at those joints) plus the exact tier alone. Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/decompose_ivfpq.py
"""
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bigdatafinalproject_spark.catalog import load_table  # noqa: E402
from bigdatafinalproject_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bdfp-decompose")
    emb = load_table(spark, sf_dir, "embeddings")
    emb.count()  # warm footers/JVM

    from bigdatafinalproject_spark.operators.ann import (
        IVF_SCALE_REF,
        centroid_panel,
        codebook_panel,
        cosine_topk,
        ivfpq_build_frames,
        ivfpq_search_frames,
    )
    from bigdatafinalproject_spark.operators.barrier import materialize_barrier
    from bigdatafinalproject_spark.queries.ann import (
        _PQ_M,
        _PQ_MAXC,
        _PQ_MOD,
        _PQ_SCALE,
    )
    from bigdatafinalproject_spark.queries.ivf_ranking import (
        _IVF_C,
        _IVF_MOD,
        _IVF_MULTI,
        _IVF_ROUNDS,
    )

    t = {}

    def mark(name, t0):
        t[name] = round(time.perf_counter() - t0, 3)
        print(f"{name:28s} {t[name]:7.3f}")

    t0 = time.perf_counter()
    centroids, cb, codes, norms = ivfpq_build_frames(
        emb, centroid_mod=_IVF_MOD, max_centroids=_IVF_C,
        train_rounds=_IVF_ROUNDS, multi_assign=_IVF_MULTI,
        m=_PQ_M, dim=64, codeword_mod=_PQ_MOD, max_codewords=_PQ_MAXC,
        coarse_scale_ref=IVF_SCALE_REF,
    )
    mark("build_frames (barriers)", t0)

    t0 = time.perf_counter()
    codes = materialize_barrier(codes)
    mark("codes barrier (encode)", t0)

    t0 = time.perf_counter()
    queries = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200))
    out = ivfpq_search_frames(
        centroid_panel(centroids, "decompose_ivfpq"),
        codebook_panel(cb, "decompose_ivfpq"),
        codes, norms, emb, queries,
        k=10, m=_PQ_M, dim=64, rerank=4, scale=_PQ_SCALE,
        probe_mass="auto", mass_multi=_IVF_MULTI, sched_ref=IVF_SCALE_REF,
    )
    out.write.format("noop").mode("overwrite").save()
    mark("search (serve job)", t0)

    t0 = time.perf_counter()
    exact_panel = emb.filter(F.col("vec_id") % 50 == 0)
    ex = cosine_topk(emb, exact_panel, id_col="vec_id",
                     vec_col="embedding", k=10)
    ex.write.format("noop").mode("overwrite").save()
    mark("exact tier (cosine_topk)", t0)

    print({"total": round(sum(t.values()), 3), **t})


if __name__ == "__main__":
    main()
