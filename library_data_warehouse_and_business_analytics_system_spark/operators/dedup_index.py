"""Incremental batch-vs-corpus dedup against a PERSISTED MinHash/LSH
band index — the dedup a 100 TB pipeline actually runs daily is not
"dedup the corpus from scratch" but "dedup this NEW batch against the
existing corpus", and its cost must scale with the batch, not the
corpus (VERDICT r5 item 1; reference analogue: the idempotent
NOT-EXISTS incremental load, 07_SubsequentLoading.sql:42,395-401,
which probes the target by key instead of reloading it).

Index layout (mirrors the ANN side's train-once/serve-many
``save_centroids``/``load_centroids``, operators/similarity.py:260)::

    index_root/
      bands/      txlog table: (id, band, bucket)   — the LSH posting
                  list; fixed-width longs, the only thing the probe
                  join ever touches
      shingles/   txlog table: (id, sh array<bigint>) — the verify
                  sidecar, fetched ONLY for candidate ids
      meta.json   {num_hashes, bands, shingle_n, id_col} — probe-time
                  parameters are read from here so a probe can never
                  band differently than the index it probes

Both tables are txlog tables, so the daily append publishes
atomically: a reader (another probe job) sees the index before or
after the whole batch, never half of it.

Correctness contract: candidates for the new batch are
``(corpus ∪ batch) ⋈ batch`` on (band, bucket) — exactly the full
in-memory LSH candidate set (operators/dedup.lsh_candidate_pairs)
restricted to pairs touching the batch, because corpus-corpus pairs
are the only ones the probe omits. The verify step is the same exact
shingle Jaccard. Hence::

    dedup_new_batch(batch, idx(corpus))
      ≡ minhash_lsh_dedup_pairs(corpus ∪ batch)
          restricted to pairs with ≥1 batch member

deterministically — this identity is the driver gate
(``dedup_incremental``) and the pytest differential.

Scale shape: the batch's band table is broadcast into the probe join
(no shuffle of the corpus index; its columnar scan of 3 long columns
is the only O(corpus) term). For batches too large to broadcast,
write the bands table bucketed on (band, bucket) and probe with a
shuffle of the BATCH side only — same plan contract, documented here
because local parquet has no bucketed-write path through txlog.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.txlog import tx_read, tx_write
from .dedup import _shingle_sets, band_buckets, minhash_signatures

_META = "meta.json"


def _paths(index_root: str) -> tuple[str, str, Path]:
    root = Path(index_root)
    return str(root / "bands"), str(root / "shingles"), root / _META


def _index_frames(df: DataFrame, text_col: str, id_col: str,
                  num_hashes: int, bands: int,
                  shingle_n: int) -> tuple[DataFrame, DataFrame]:
    """(bands, shingles) frames for ``df`` under the index's params."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    bb = band_buckets(sigs, id_col, bands, num_hashes)
    sh = _shingle_sets(df, text_col, id_col, shingle_n)
    return bb, sh


def build_dedup_index(corpus: DataFrame, index_root: str, *,
                      text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 64, bands: int = 16,
                      shingle_n: int = 5) -> None:
    """Build (or rebuild) the persisted index from the full corpus —
    the expensive one-time pass; every later day only probes and
    appends."""
    bands_t, sh_t, meta_p = _paths(index_root)
    bb, sh = _index_frames(corpus, text_col, id_col,
                           num_hashes, bands, shingle_n)
    tx_write(bb, bands_t, mode="overwrite")
    tx_write(sh, sh_t, mode="overwrite")
    meta_p.parent.mkdir(parents=True, exist_ok=True)
    meta_p.write_text(json.dumps({
        "num_hashes": num_hashes, "bands": bands,
        "shingle_n": shingle_n, "id_col": id_col}))


def _meta(index_root: str) -> dict:
    _, _, meta_p = _paths(index_root)
    return json.loads(meta_p.read_text())


def dedup_new_batch(spark: SparkSession, new_docs: DataFrame,
                    index_root: str, *, text_col: str = "text",
                    threshold: float = 0.8,
                    max_candidates: int | None = None) -> DataFrame:
    """Near-dup pairs (a, b, jaccard), a < b, where at least one side
    is in ``new_docs`` — batch-vs-corpus AND batch-vs-batch — without
    recomputing anything about the corpus.

    Banding/shingling parameters come from the index's meta so probe
    and index can never disagree. Batch ids are assumed disjoint from
    corpus ids (re-ingesting an already-indexed id is the caller's
    upstream exact-dedup's job).

    ``max_candidates`` bounds the verify set PER PROBE DOCUMENT to the
    top-M partners by band-collision count (the ANN side's multi-probe
    bound, similarity.py lsh_topk) — a skew-adversarial batch (one hot
    band bucket: identical spam, boilerplate-heavy docs) can otherwise
    inflate the candidate set quadratically and blow the broadcast
    (VERDICT r6 nit). Collision count is the blocking-quality signal:
    true near-dups collide in many bands (that is LSH's guarantee), so
    the dropped tail is the least-similar candidates. Unset = exact
    (the identity with the full-corpus pair set holds only then)."""
    m = _meta(index_root)
    id_col = m["id_col"]
    bands_t, sh_t, _ = _paths(index_root)

    bb_new, sh_new = _index_frames(new_docs, text_col, id_col,
                                   m["num_hashes"], m["bands"],
                                   m["shingle_n"])
    bb_idx = tx_read(spark, bands_t)

    # candidate pairs: (corpus ∪ batch) ⋈ batch on (band, bucket);
    # the batch side broadcasts, so the corpus posting list is scanned
    # once and never shuffled
    all_bb = bb_idx.unionByName(bb_new).alias("a")
    probe = F.broadcast(bb_new).alias("b")
    hits = (
        all_bb.join(probe, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(F.col(f"b.{id_col}").alias("_probe"),
                F.least(f"a.{id_col}", f"b.{id_col}").alias("a"),
                F.greatest(f"a.{id_col}", f"b.{id_col}").alias("b"))
    )
    if max_candidates is not None:
        counted = (hits.groupBy("_probe", "a", "b")
                   .agg(F.count(F.lit(1)).alias("_ncoll")))
        wc = Window.partitionBy("_probe").orderBy(
            F.col("_ncoll").desc(), "a", "b")
        hits = (counted.withColumn("_crank", F.row_number().over(wc))
                .filter(F.col("_crank") <= max_candidates))
    # Pin the candidate set once (r13, guide §2.4): it feeds THREE
    # plan branches (both sides of the verify-ids union and the
    # broadcast into the verify join), and without the checkpoint
    # each branch re-runs the whole probe join — the corpus posting
    # list scanned three times per batch instead of once. The set is
    # candidate-bounded (pairs touching the batch), so materializing
    # it is batch-proportional, never corpus-sized.
    cand = hits.select("a", "b").distinct().localCheckpoint()

    # verify with exact shingle Jaccard; corpus shingles are fetched
    # for CANDIDATE ids only — the broadcast semi-join prunes the
    # shingle table scan BEFORE any join shuffle can form, so even a
    # shuffle-join plan moves candidate-bounded data, never the
    # corpus's shingle arrays
    ids = (cand.select(F.col("a").alias(id_col))
           .union(cand.select(F.col("b").alias(id_col))).distinct())
    sh_cand = (tx_read(spark, sh_t).unionByName(sh_new)
               .join(F.broadcast(ids), id_col, "left_semi"))
    pairs = (
        F.broadcast(cand)
        .join(sh_cand.select(F.col(id_col).alias("a"),
                             F.col("sh").alias("sh_a")), "a")
        .join(sh_cand.select(F.col(id_col).alias("b"),
                             F.col("sh").alias("sh_b")), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.select("a", "b",
                     (inter / F.nullif(union, F.lit(0))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def append_to_index(new_docs: DataFrame, index_root: str, *,
                    text_col: str = "text",
                    txn_id: str | None = None) -> None:
    """Publish the (deduplicated) batch's bands + shingles into the
    index — one atomic append commit per table; the daily cycle is
    probe → drop dups → append survivors. ``txn_id`` makes the append
    idempotent per table (redelivered micro-batches re-commit only
    the table that didn't make it — see ``tx_write``)."""
    m = _meta(index_root)
    bands_t, sh_t, _ = _paths(index_root)
    bb, sh = _index_frames(new_docs, text_col, m["id_col"],
                           m["num_hashes"], m["bands"], m["shingle_n"])
    tx_write(bb, bands_t, mode="append", txn_id=txn_id)
    tx_write(sh, sh_t, mode="append", txn_id=txn_id)


def maintain_index(spark: SparkSession, index_root: str, *,
                   target_mb: int = 64,
                   expire_history: bool = True,
                   vacuum_retention_sec: float = 3600.0) -> dict:
    """Maintenance cycle for the persisted index (VERDICT r6 item 4):
    ``append_to_index`` adds one commit (two small parquet dirs) per
    batch forever, so after a year a probe's posting-list read is 365
    dir listings — the checkpoint bounds the LOG replay, not the
    data-dir count. This compacts each table's visible state into ONE
    right-sized generation and bounds the metadata:

    1. compact: rewrite the visible rows into ceil(bytes/target_mb)
       files, published as one atomic overwrite commit (probes running
       concurrently keep reading the old generation until the publish
       instant — the same contract every txlog write has);
    2. ``tx_checkpoint`` + ``tx_truncate_log``: replay cost back to
       O(1);
    3. with ``expire_history`` (default), drop pre-compaction
       checkpoints and vacuum — the old generations' dirs are
       reclaimed, so DISK is bounded too, at the price of time travel
       into pre-compaction snapshots (which raises, never silently
       misreads). ``vacuum_retention_sec`` keeps just-replaced dirs
       alive long enough for probes that resolved their snapshot
       before the compaction published (pass 0 only when no probes
       are running — tests).

    Probe results are bit-identical before/after (same rows, fewer
    files) — pinned by tests/test_dedup_index.py. Run it every N
    appends or when ``plan_compaction`` reports fragmentation, like
    Delta OPTIMIZE.
    """
    from ..sources.compaction import _list_parquet_files
    from ..sources.txlog import (
        _snapshot_dirs, tx_checkpoint, tx_expire_checkpoints,
        tx_truncate_log, tx_vacuum,
    )

    bands_t, sh_t, _ = _paths(index_root)
    out: dict = {}
    for t in (bands_t, sh_t):
        dirs = _snapshot_dirs(t)
        n_files = total = 0
        for d in dirs:
            nf, nb = _list_parquet_files(spark, str(Path(t) / d))
            n_files += nf
            total += nb
        n_out = max(1, -(-total // (target_mb * 1024 * 1024)))  # ceil
        df = tx_read(spark, t)
        tx_write(df.repartition(int(n_out)), t, mode="overwrite")
        tx_checkpoint(t)
        tx_truncate_log(t)
        removed_dirs = []
        if expire_history:
            tx_expire_checkpoints(t, keep=1)
            removed_dirs = tx_vacuum(t, retention_sec=vacuum_retention_sec)
        out[Path(t).name] = {
            "before_dirs": len(dirs), "before_files": n_files,
            "bytes": total, "after_dirs": 1,
            "target_files": int(n_out),
            "reclaimed_dirs": len(removed_dirs)}
    return out
