"""Sub-step breakdown of ann_index_upsert(reroute)/maintain/query
(r13 session 3): each internal action timed + job-counted to find
where the 30/23/13 jobs per phase come from.
"""
from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators import ann_index as AI  # noqa: E501
from library_data_warehouse_and_business_analytics_system_spark.operators.similarity import (  # noqa: E501
    cents_frame,
    kmeans_fit,
)
from library_data_warehouse_and_business_analytics_system_spark.session import (  # noqa: E501
    get_spark,
)
from library_data_warehouse_and_business_analytics_system_spark.sources import txlog as TX  # noqa: E501
from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (  # noqa: E501
    load_table,
)


def main() -> None:
    import shutil
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_ann_substeps")
    spark.sparkContext.setLogLevel("ERROR")

    emb = load_table(spark, sf_dir, "embeddings")
    emb.count()

    def step(name, fn):
        j0 = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        j1 = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        print(f"  {name:34s} {dt:6.2f}s jobs={j1 - j0}", flush=True)
        return out

    for rep in range(2):
        root = tempfile.mkdtemp(prefix="ann_sub_")
        print(f"--- rep {rep}")
        # ---- build, decomposed
        cents = step("build.kmeans_fit(2 iters)", lambda: kmeans_fit(
            emb, "embedding", dim=64, k=8, max_iter=2, seed=7))
        cent_t, asg_t = AI._tables(root)
        cent_df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cell int, centroid array<double>")
        step("build.write_centroids", lambda: TX.tx_write(
            cent_df, cent_t, mode="overwrite"))
        step("build.assign+write_parts", lambda: TX.tx_write_parts(
            AI._assign(emb, "vec_id", "embedding", cents), asg_t,
            part_col="cell", mode="overwrite"))
        # ---- delete
        step("delete", lambda: AI.ann_index_delete(
            spark, root, emb.filter(F.col("vec_id") < 60).select("vec_id"),
            "vec_id"))
        # ---- upsert(reroute), decomposed (mirrors ann_index_upsert)
        delta_in = (emb.filter(F.col("vec_id") < 40)
                    .select("vec_id",
                            F.transform("embedding", lambda x: -x)
                            .alias("embedding")))
        cents2 = step("upsert.load_centroids", lambda: AI._load_centroids(
            spark, root))
        base = TX.tx_latest_id(asg_t)
        stored = step("upsert.stored_schema_read", lambda: TX.tx_read(
            spark, asg_t, as_of=base))
        step("upsert.delta_assign+lckpt", lambda: None) or None
        delta = AI._assign(delta_in, "vec_id", "embedding", cents2)
        delta = step("upsert.delta_lckpt", lambda: delta.localCheckpoint())
        existing = stored.select("id", F.col("cell").alias("stored_cell"))
        moved = (delta.select("id", "cell").join(existing, "id")
                 .filter(F.col("cell") != F.col("stored_cell")))
        moved = step("upsert.moved_scan+lckpt",
                     lambda: moved.select("id", "stored_cell")
                     .localCheckpoint())
        step("upsert.moved_probe", lambda: moved.limit(1).count())
        cid = step("upsert.merge_with_moves", lambda: AI._upsert_with_moves(
            spark, asg_t, delta, moved, None, expect_latest=base))
        tomb = step("upsert.tombstone_ids (lazy)", lambda: AI._tombstone_ids(
            spark, root))
        if tomb is not None:
            upserted = delta.select("id").distinct()
            if step("upsert.overlap_probe", lambda: tomb.join(
                    upserted, "id", "left_semi").limit(1).count()):
                step("upsert.tomb_rewrite", lambda: TX.tx_write(
                    tomb.join(upserted, "id", "left_anti"),
                    AI._deletes_table(root), mode="overwrite"))
        # ---- maintain, decomposed
        tomb = step("maintain.tombstone_ids (lazy)", lambda: AI._tombstone_ids(
            spark, root))
        n_phys = step("maintain.n_phys_count", lambda: TX.tx_read(
            spark, asg_t).count())
        n_tomb = step("maintain.n_tomb_count", lambda: tomb.count())
        live = step("maintain.live_read+lckpt", lambda: (
            TX.tx_read(spark, asg_t)
            .join(F.broadcast(tomb), "id", "left_anti")
            .select(F.col("id").alias("vec_id"),
                    F.col("vec").alias("embedding"))
            .localCheckpoint()))
        cents3 = step("maintain.rebuild.kmeans", lambda: kmeans_fit(
            live, "embedding", dim=64, k=8, max_iter=2, seed=7))
        step("maintain.rebuild.tomb_reset", lambda: TX.tx_write(
            live.select(F.col("vec_id").alias("id")).limit(0),
            AI._deletes_table(root), mode="overwrite"))
        cent_df3 = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents3)],
            "cell int, centroid array<double>")
        step("maintain.rebuild.write_centroids", lambda: TX.tx_write(
            cent_df3, cent_t, mode="overwrite"))
        step("maintain.rebuild.assign+write", lambda: TX.tx_write_parts(
            AI._assign(live, "vec_id", "embedding", cents3), asg_t,
            part_col="cell", mode="overwrite"))
        def upkeep():
            tables = [cent_t, asg_t, AI._deletes_table(root)]
            for t in tables:
                TX.tx_checkpoint(t)
                TX.tx_expire_checkpoints(t, keep=1)
                TX.tx_vacuum(t, retention_sec=3600.0)
        step("maintain.checkpoint/vacuum x3", upkeep)
        # ---- query, decomposed
        queries = emb.filter(F.col("vec_id") < 8)
        cents4 = step("query.load_centroids", lambda: AI._load_centroids(
            spark, root))
        from library_data_warehouse_and_business_analytics_system_spark.functions.vectors import (  # noqa: E501
            l2_norm_sq,
        )
        from library_data_warehouse_and_business_analytics_system_spark.operators.similarity import (  # noqa: E501
            _nearest_cells,
        )
        q = queries.crossJoin(cents_frame(spark, cents4)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            l2_norm_sq(F.col("embedding")).alias("nq"),
            F.transform(_nearest_cells(F.col("embedding"), len(cents4), 8),
                        lambda s: s.cell).alias("cells"))
        probed = step("query.probed_collect", lambda: sorted(
            {c for r in q.select(F.explode("cells").alias("c"))
             .distinct().collect() for c in [r["c"]]}))
        step("query.avail_part_values", lambda: TX.tx_part_values(asg_t))
        step("query.tombstone_ids (lazy)", lambda: AI._tombstone_ids(spark, root))
        out = AI.ann_index_query(spark, root, queries, "vec_id",
                                 "embedding", k=10, n_probe=8)
        step("query.full_call_collect", lambda: out.collect())
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
