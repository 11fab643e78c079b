"""Round-10 scale probe for the persisted ANN index's new guard rails
(the r9 verdict's item 4 and the r9 ADVICE findings).

Shape: 1M synthetic 64-d vectors in a 64-cell IVF index (~15.6k
vectors/cell) — big enough that "scan the corpus" and "scan one cell"
are an order of magnitude apart on wall clock.

Probes, each timed end-to-end:
1. build (train + assign + publish, the once-per-retrain cost);
2. pruned query (100 queries, n_probe=4 of 64) vs FULL probe — the
   partition-pruning payoff the index exists for; also asserts the
   pruned plan's inputFiles touch only the probed cells' dirs;
3. upsert of a 10k delta with validate=False vs validate=True — the
   guard's price is ONE column-pruned (id, cell) scan of the
   assignments, NOT a vector read (ReadSchema asserted vector-free);
4. the all-empty-probe fallback: a query probing only an absent cell
   returns an empty frame (no raise), cost ~metadata-only.

Prints one JSON line per probe. Run manually; results cited in
ROUND10.md.
    python scripts/probe_scale_round10.py
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path
from tempfile import TemporaryDirectory

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pyspark.sql.functions as F  # noqa: E402

from library_data_warehouse_and_business_analytics_system_spark.operators.ann_index import (  # noqa: E402
    ann_index_build,
    ann_index_query,
    ann_index_upsert,
)
from library_data_warehouse_and_business_analytics_system_spark.session import (  # noqa: E402
    get_spark,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (  # noqa: E402
    tx_read,
)

N, DIM, CELLS, DELTA = 1_000_000, 64, 64, 10_000


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return round(time.perf_counter() - t0, 2), out


def _vectors(spark, n, id_start=0):
    # deterministic pseudo-random vectors, JVM-side (no UDF): the GLSL
    # fract(sin(dot)) hash per (id, coord) — decorrelated across ids
    # (a plain sin(i*a + j*b) family is PERIODIC in i, collapses onto
    # a 1-d curve, and leaves most kmeans cells empty)
    ids = spark.range(id_start, id_start + n).select(
        F.col("id").alias("vec_id"))
    coords = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (lambda x: x - F.floor(x))(
            F.sin(F.col("vec_id") * 12.9898
                  + j.cast("double") * 78.233) * 43758.5453) - 0.5)
    return ids.select("vec_id", coords.alias("embedding"))


def main() -> None:
    spark = get_spark("probe-r10")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = _vectors(spark, N).cache()
    corpus.count()

    with TemporaryDirectory() as tmp:
        root = f"{tmp}/idx"
        t_build, _ = _timed(lambda: ann_index_build(
            spark, corpus, "vec_id", "embedding", root,
            dim=DIM, n_cells=CELLS, max_iter=2, seed=7))
        print(json.dumps({"probe": "build", "n": N, "cells": CELLS,
                          "sec": t_build}))

        # single-query pruning payoff (the per-query cost the index
        # exists for: probed cells / total cells of the corpus read);
        # warm both paths once so JIT/codegen warmup doesn't pollute
        # the comparison
        one = corpus.filter(F.col("vec_id") < 1)
        for np_ in (4, CELLS):
            ann_index_query(spark, root, one, "vec_id", "embedding",
                            k=10, n_probe=np_).collect()
        t_pruned, pruned = _timed(lambda: ann_index_query(
            spark, root, one, "vec_id", "embedding",
            k=10, n_probe=4).collect())
        t_full, _ = _timed(lambda: ann_index_query(
            spark, root, one, "vec_id", "embedding",
            k=10, n_probe=CELLS).collect())
        df = ann_index_query(spark, root, one, "vec_id",
                             "embedding", k=10, n_probe=4)
        cells_read = {seg for f in df.inputFiles()
                      for seg in f.split("/") if seg.startswith("_part=")}
        print(json.dumps({"probe": "query_single", "n_probe": 4,
                          "pruned_sec": t_pruned, "full_sec": t_full,
                          "speedup": round(t_full / max(t_pruned, 1e-9), 1),
                          "cells_read_pruned": len(cells_read),
                          "rows": len(pruned)}))
        # batch behavior: a 100-query batch probes the UNION of each
        # query's cells (random queries cover most cells — inherent to
        # batching, the per-batch read is amortized across queries)
        batch = corpus.filter(F.col("vec_id") < 100)
        t_batch, rows_b = _timed(lambda: ann_index_query(
            spark, root, batch, "vec_id", "embedding",
            k=10, n_probe=4).collect())
        print(json.dumps({"probe": "query_batch", "n_queries": 100,
                          "sec": t_batch, "rows": len(rows_b)}))

        delta = _vectors(spark, DELTA, id_start=N)
        t_plain, _ = _timed(lambda: ann_index_upsert(
            spark, root, delta, "vec_id", "embedding", txn_id="d1"))
        delta2 = _vectors(spark, DELTA, id_start=N + DELTA)
        t_valid, _ = _timed(lambda: ann_index_upsert(
            spark, root, delta2, "vec_id", "embedding", txn_id="d2",
            validate=True))
        # the validate scan must be column-pruned: no vector column
        scan = tx_read(spark, f"{root}/assignments").select(
            "id", "cell")
        plan = scan._jdf.queryExecution().executedPlan().toString()
        vector_free = all("vec" not in ln or "vec_id" in ln
                          for ln in plan.splitlines()
                          if "ReadSchema" in ln)
        print(json.dumps({"probe": "upsert", "delta": DELTA,
                          "plain_sec": t_plain, "validate_sec": t_valid,
                          "validate_scan_vector_free": vector_free}))

        # all-empty probe: drop every cell but one, query a vector
        # whose nearest centroid is another cell
        from library_data_warehouse_and_business_analytics_system_spark.operators.ann_index import (
            _load_centroids, _nearest_cells,
        )
        from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
            tx_part_values, tx_write_parts,
        )
        asg_t = f"{root}/assignments"
        keep = int(tx_part_values(asg_t)[0])
        only = tx_read(spark, asg_t).filter(F.col("cell") == keep)
        tx_write_parts(only, asg_t, part_col="cell", mode="overwrite")
        cents = _load_centroids(spark, root)
        probe_q = (corpus.select(
            "vec_id", "embedding",
            _nearest_cells(F.col("embedding"), cents, 1)[0].cell
            .alias("c0")).filter(F.col("c0") != keep)
            .limit(1).drop("c0"))
        t_empty, rows = _timed(lambda: ann_index_query(
            spark, root, probe_q, "vec_id", "embedding",
            k=5, n_probe=1).collect())
        print(json.dumps({"probe": "empty_probe", "sec": t_empty,
                          "rows": len(rows)}))
    spark.stop()


if __name__ == "__main__":
    main()
