"""Incremental batch-vs-corpus dedup against the persisted band
index: probe ≡ full-corpus pairs restricted to the batch, the daily
append cycle, and the cost-scales-with-batch contract."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.functions import (
    text as TX,
)
from library_data_warehouse_and_business_analytics_system_spark.operators import (
    dedup,
)
from library_data_warehouse_and_business_analytics_system_spark.operators.dedup_index import (
    append_to_index, build_dedup_index, dedup_new_batch,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (
    load_table,
)

import pytest

# Opt-in slow lane (r14): streaming/maintain endurance cycles over the persisted dedup index.
pytestmark = pytest.mark.slow


THRESHOLD = 0.5


def _pairs(df):
    return {(r.a, r.b, round(r.jaccard, 9)) for r in df.collect()}


def _restricted_to(full, batch_ids):
    return {(a, b, j) for a, b, j in full
            if a in batch_ids or b in batch_ids}


def test_incremental_probe_equals_full_restricted(spark, sf_dir, tmp_path):
    """dedup_new_batch(batch, idx(corpus)) ≡
    minhash_lsh_dedup_pairs(corpus ∪ batch) restricted to pairs
    touching the batch — the identity the driver gate pins."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = TX.md5_bucket(F.col("doc_id"), 5, salt="batch:") == 4
    corpus, batch = docs.where(~is_new), docs.where(is_new)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    assert batch_ids and corpus.count() > 0

    root = str(tmp_path / "idx")
    build_dedup_index(corpus, root)
    got = _pairs(dedup_new_batch(spark, batch, root,
                                 threshold=THRESHOLD))

    full = _pairs(dedup.minhash_lsh_dedup_pairs(
        docs, "text", "doc_id", threshold=THRESHOLD))
    want = _restricted_to(full, batch_ids)
    assert got == want
    # and the probe found real work to do at this sf (non-vacuous)
    assert got


def test_daily_cycle_append_then_probe(spark, sf_dir, tmp_path):
    """Two-day cycle: build from day-0 corpus, probe+append day-1,
    probe day-2 — each probe ≡ the full-corpus ground truth of
    everything indexed so far plus the probing batch."""
    docs = load_table(spark, sf_dir, "documents")
    day = TX.md5_bucket(F.col("doc_id"), 3, salt="day:")
    d0, d1, d2 = (docs.where(day == i) for i in range(3))

    root = str(tmp_path / "idx")
    build_dedup_index(d0, root)

    ids1 = {r.doc_id for r in d1.select("doc_id").collect()}
    got1 = _pairs(dedup_new_batch(spark, d1, root, threshold=THRESHOLD))
    full01 = _pairs(dedup.minhash_lsh_dedup_pairs(
        d0.unionByName(d1), "text", "doc_id", threshold=THRESHOLD))
    assert got1 == _restricted_to(full01, ids1)

    append_to_index(d1, root)

    ids2 = {r.doc_id for r in d2.select("doc_id").collect()}
    got2 = _pairs(dedup_new_batch(spark, d2, root, threshold=THRESHOLD))
    full012 = _pairs(dedup.minhash_lsh_dedup_pairs(
        docs, "text", "doc_id", threshold=THRESHOLD))
    assert got2 == _restricted_to(full012, ids2)


def test_probe_plan_broadcasts_batch_not_corpus(spark, sf_dir, tmp_path):
    """Plan contract: the band probe broadcasts the BATCH side (the
    corpus posting list is scanned, never shuffled into the join), and
    the corpus shingle fetch is pruned by a broadcast semi-join on
    candidate ids."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = TX.md5_bucket(F.col("doc_id"), 5, salt="batch:") == 4
    root = str(tmp_path / "idx")
    build_dedup_index(docs.where(~is_new), root)
    plan = dedup_new_batch(spark, docs.where(is_new), root,
                           threshold=THRESHOLD)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi, BuildRight" in plan or "LeftSemi" in plan


def test_probe_cost_scales_with_batch_not_corpus(spark, sf_dir, tmp_path):
    """Grow the indexed corpus 4× (batch fixed): probe wall time must
    stay far from 4× — the posting-list scan is the only O(corpus)
    term. Generous bound (2.5×) keeps the test honest but unflaky."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = TX.md5_bucket(F.col("doc_id"), 5, salt="batch:") == 4
    corpus, batch = docs.where(~is_new), docs.where(is_new)
    # 4× corpus: replicate with disjoint numeric ids per copy
    corpus4 = corpus
    for i in range(3):
        corpus4 = corpus4.unionByName(
            corpus.withColumn(
                "doc_id",
                F.col("doc_id") + F.lit((i + 1) * 10_000_000)))

    def probe_time(c):
        root = str(tmp_path / f"idx_{c.count()}")
        build_dedup_index(c, root)
        best = float("inf")
        for _ in range(2):  # best-of-2 damps JIT/GC noise
            t0 = time.perf_counter()
            dedup_new_batch(spark, batch, root,
                            threshold=THRESHOLD).collect()
            best = min(best, time.perf_counter() - t0)
        return best

    t1 = probe_time(corpus)
    t4 = probe_time(corpus4)
    assert t4 < 2.5 * t1, f"probe not batch-bound: {t1:.2f}s -> {t4:.2f}s"


# ---------------------------------------------------------------------------
# Streaming twin: continuous ingest through the band index.


def _day_chunks(docs, n=3):
    day = TX.md5_bucket(F.col("doc_id"), n, salt="day:")
    return [docs.where(day == i) for i in range(n)]


def _write_day_files(chunks, src):
    import os
    import time as _t
    base = _t.time()
    seen: set[str] = set()
    for k, chunk in enumerate(chunks, start=1):
        chunk.coalesce(1).write.mode("append").parquet(src)
        fresh = {f for f in os.listdir(src) if f.endswith(".parquet")} - seen
        seen |= fresh
        for f in fresh:
            os.utime(os.path.join(src, f), (base + k * 10, base + k * 10))


def test_streaming_ingest_equals_sequential_batches(spark, sf_dir,
                                                    tmp_path):
    """start_dedup_ingest over day-files ≡ the sequential batch
    probe→drop→append loop: same kept corpus, same index contents."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_read,
    )
    from library_data_warehouse_and_business_analytics_system_spark.streaming.dedup_ingest import (
        ingest_batch, start_dedup_ingest,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = _day_chunks(docs)
    src = str(tmp_path / "src")
    _write_day_files(chunks, src)

    # streaming run (bootstrapped from an empty index)
    root_s, kept_s = str(tmp_path / "idx_s"), str(tmp_path / "kept_s")
    build_dedup_index(docs.limit(0), root_s)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = start_dedup_ingest(stream, root_s, kept_s,
                           str(tmp_path / "ck"), threshold=THRESHOLD)
    q.awaitTermination()

    # sequential reference over the same chunks in the same order
    root_b, kept_b = str(tmp_path / "idx_b"), str(tmp_path / "kept_b")
    build_dedup_index(docs.limit(0), root_b)
    for i, chunk in enumerate(chunks):
        ingest_batch(chunk, i, root_b, kept_b, threshold=THRESHOLD)

    def ids(table):
        return {r.doc_id for r in
                tx_read(spark, table).select("doc_id").collect()}

    assert ids(kept_s) == ids(kept_b)
    assert ids(kept_s) < {r.doc_id for r in docs.select("doc_id").collect()}
    for sub in ("bands", "shingles"):
        a = tx_read(spark, f"{root_s}/{sub}")
        b = tx_read(spark, f"{root_b}/{sub}")
        assert a.count() == b.count(), sub
        assert a.exceptAll(b).count() == 0, sub


def test_ingest_batch_redelivery_is_idempotent(spark, sf_dir, tmp_path):
    """A redelivered micro-batch (same batch_id) must not
    double-append: txn ids in the commit log absorb the replay."""
    from pathlib import Path

    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_read,
    )
    from library_data_warehouse_and_business_analytics_system_spark.streaming.dedup_ingest import (
        ingest_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunk = _day_chunks(docs)[0]
    root, kept = str(tmp_path / "idx"), str(tmp_path / "kept")
    build_dedup_index(docs.limit(0), root)

    ingest_batch(chunk, 7, root, kept, threshold=THRESHOLD)
    n_kept = tx_read(spark, kept).count()
    n_bands = tx_read(spark, f"{root}/bands").count()
    logs = len(list((Path(kept) / "_txlog").glob("*.json")))

    ingest_batch(chunk, 7, root, kept, threshold=THRESHOLD)  # replay
    assert tx_read(spark, kept).count() == n_kept
    assert tx_read(spark, f"{root}/bands").count() == n_bands
    assert len(list((Path(kept) / "_txlog").glob("*.json"))) == logs


def test_maintain_index_preserves_probe_and_bounds_dirs(spark, sf_dir,
                                                        tmp_path):
    """VERDICT r6 item 4: after 30 simulated daily appends, the probe
    reads 30+ data dirs; maintain_index compacts each table to ONE
    visible generation with bit-identical probe results, bounded log
    metadata, and reclaimed disk."""
    from pathlib import Path

    from library_data_warehouse_and_business_analytics_system_spark.operators.dedup_index import (
        maintain_index,
    )
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        _snapshot_dirs,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_new = TX.md5_bucket(F.col("doc_id"), 5, salt="batch:") == 4
    corpus, batch = docs.where(~is_new), docs.where(is_new)
    root = str(tmp_path / "idx")
    build_dedup_index(corpus.limit(50), root)
    # 30 tiny daily appends (disjoint id ranges)
    rest = corpus.subtract(corpus.limit(50))
    day = TX.md5_bucket(F.col("doc_id"), 30, salt="m:")
    for i in range(30):
        chunk = rest.where(day == i)
        append_to_index(chunk, root, txn_id=f"day-{i}")

    before = _pairs(dedup_new_batch(spark, batch, root,
                                    threshold=THRESHOLD))
    assert len(_snapshot_dirs(f"{root}/bands")) >= 30

    stats = maintain_index(spark, root, vacuum_retention_sec=0)
    assert stats["bands"]["after_dirs"] == 1
    assert stats["bands"]["before_dirs"] >= 30
    assert stats["bands"]["reclaimed_dirs"] >= 30

    after = _pairs(dedup_new_batch(spark, batch, root,
                                   threshold=THRESHOLD))
    assert after == before and after
    # metadata bounded: one log entry's worth of checkpoints, one
    # visible dir, and the physical data dir count matches
    assert len(_snapshot_dirs(f"{root}/bands")) == 1
    assert len(list((Path(root) / "bands" / "data").iterdir())) == 1
    # the cycle composes: appends continue after maintenance
    append_to_index(batch, root, txn_id="day-31")
    assert len(_snapshot_dirs(f"{root}/bands")) == 2


def test_probe_candidate_cap_bounds_adversarial_batch(spark, tmp_path):
    """VERDICT r6 item 6: a degenerate batch (1k near-identical spam
    docs = one hot band bucket) must complete with a bounded verify
    set under max_candidates, while non-degenerate keys keep their
    exact pairs."""
    # corpus: 50 distinct docs + one spam template; batch: 1000 spam
    # clones (all collide with each other and the template in every
    # band) + 3 clean near-dups of corpus docs
    mk = lambda i: f"unique document number {i} " + " ".join(  # noqa: E731
        f"tok{i}_{j}" for j in range(30))
    corpus_rows = [(i, mk(i)) for i in range(50)]
    corpus_rows.append((99, "spam spam spam buy now " * 20))
    batch_rows = [(1000 + i, "spam spam spam buy now " * 20)
                  for i in range(1000)]
    batch_rows += [(5000 + i, mk(i) + " extra") for i in range(3)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    root = str(tmp_path / "idx")
    build_dedup_index(corpus, root)

    capped = dedup_new_batch(spark, batch, root, threshold=0.5,
                             max_candidates=20).toPandas()
    # bounded: ≤ max_candidates per probe doc (1003 probes × 20), far
    # below the ~500k uncapped spam-clique pairs
    assert len(capped) <= 1003 * 20
    # non-degenerate keys: the 3 clean near-dups all survive the cap
    clean = capped[(capped.a < 100) & (capped.b >= 5000)]
    assert set(clean.b) == {5000, 5001, 5002}
    # spam still detected as duplicated (against template and clones)
    assert (capped.b >= 1000).sum() > 1000
