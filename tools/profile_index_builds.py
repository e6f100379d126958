"""Phase-wall profiler for the batch index-build gate rows: times each
public call of the ANN and IVFPQ index lifecycle (build / extend /
recluster / lookup) and of build_term_index + bm25_lookup, one phase
each.

Usage: python tools/profile_index_builds.py [ivfpq|indexed|grown|reclustered|bm25|ann] [passes]
(`ivfpq` is the IVFPQ `reclustered` variant; `ann` runs the ANN index
through the same grown + reclustered lifecycle.)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from apache_kafka_clickhouse_demo_spark.session import get_spark  # noqa: E402
from apache_kafka_clickhouse_demo_spark import queries as Q  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def profile_ivf(spark, kind: str, variant: str):
    """Time the public ANN (`kind="ann"`) or IVFPQ index calls one phase
    each: build, then for `grown`/`reclustered` an extension with the
    rest of the corpus, then for `reclustered` a recluster, then a
    lookup.  `indexed` builds on the whole corpus."""
    from apache_kafka_clickhouse_demo_spark.operators import search_index as SI

    emb = Q._t(spark, SF_DIR, "embeddings")
    if variant != "indexed":
        founding = emb.filter(F.expr(Q.ANN_GROWN_FOUNDING_PRED))
        growth = emb.filter(~F.expr(Q.ANN_GROWN_FOUNDING_PRED))
    else:
        founding, growth = emb, None
    if kind == "ivfpq":
        build, extend = SI.build_ivfpq_index, SI.extend_ivfpq_index
        maintain, lookup = SI.maintain_ivfpq_index, SI.ivfpq_index_lookup
        salt = {"ivf_salt": Q.IVF_SALT}
        pq = {"dim": Q.EMBED_DIM, "m": Q.PQ_M, "target_codes": Q.PQ_TARGET_CODES}
    else:
        build, extend = SI.build_ann_index, SI.extend_ann_index
        maintain, lookup = SI.maintain_ann_index, SI.ann_index_lookup
        salt, pq = {"salt": Q.IVF_SALT}, {}
    work = Q._workdir(f"prof_{kind}_")
    t: dict[str, float] = {}
    t0 = time.time()
    table = build(
        founding, f"{work}/ix", target_centroids=Q.IVF_TARGET_CENTROIDS,
        **salt, **pq,
    )
    t["build"] = time.time() - t0
    if growth is not None:
        t0 = time.time()
        extend(growth, table, **salt)
        t["extend"] = time.time() - t0
    if variant == "reclustered":
        t0 = time.time()
        maintain(
            spark,
            table,
            recluster=True,
            target_centroids=Q.IVF_TARGET_CENTROIDS,
            salt=Q.IVF_SALT,
        )
        t["recluster"] = time.time() - t0
    t0 = time.time()
    _noop(
        lookup(
            spark,
            table,
            emb.filter(F.col("vec_id") < Q.ANN_NUM_QUERIES),
            k=Q.ANN_K,
            nprobe=Q.IVF_NPROBE,
        ).orderBy("query_id", "rank")
    )
    t["lookup"] = time.time() - t0
    return t


def profile_bm25(spark):
    from apache_kafka_clickhouse_demo_spark.operators import search_index as SI

    docs = Q._t(spark, SF_DIR, "documents")
    work = Q._workdir("prof_bm25_")
    t: dict[str, float] = {}
    t0 = time.time()
    table = SI.build_term_index(docs, f"{work}/idx", n_shards=64)
    t["build"] = time.time() - t0
    t0 = time.time()
    _noop(
        SI.bm25_lookup(spark, table, Q.BM25_QUERIES, k=Q.BM25_K).orderBy(
            "query_id", "rank"
        )
    )
    t["lookup"] = time.time() - t0
    return t


def main() -> int:
    which = sys.argv[1] if len(sys.argv) > 1 else "ivfpq"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name=f"profile_{which}")
    Q.q_count_events(spark, SF_DIR).collect()  # warm-up
    for p in range(passes):
        spark.catalog.clearCache()
        if which == "bm25":
            t = profile_bm25(spark)
        elif which == "ann":
            t = profile_ivf(spark, "ann", "reclustered")
        elif which in ("indexed", "grown", "reclustered"):
            t = profile_ivf(spark, "ivfpq", which)
        else:
            t = profile_ivf(spark, "ivfpq", "reclustered")
        total = sum(t.values())
        print(
            f"pass {p}: total={total:.2f}s  "
            + "  ".join(f"{k}={v:.2f}" for k, v in t.items()),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
