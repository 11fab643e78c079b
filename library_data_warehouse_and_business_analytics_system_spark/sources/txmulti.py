"""Cross-table atomic snapshots: a manifest log pinning one commit
id per table, so a reader of a MULTI-table warehouse never observes
a torn state (dims advanced, facts not — exactly what a crash
between per-table commits leaves behind).

Delta/Iceberg transactions are single-table; lakehouses get
multi-table consistency by layering a manifest/metastore pointer
swap on top — this module is that layer for the txlog format, using
the txlog's own atomic publish (a fully-written temp file linked into
place, so a crash never leaves a torn manifest):

Layout::

    root/
      <table>/…                      per-table txlog tables
      _manifest/00000001.json … N    {"id": N, "tables": {name: commit}}

- WRITERS commit each table normally (those commits are durable and
  atomic per-table), then publish ONE manifest naming the commit id
  every table reached. A crash before the manifest leaves readers on
  the previous manifest — consistent, just stale; the re-run
  converges the tables and publishes the next manifest.
- READERS resolve the newest manifest and time-travel every table to
  its pinned commit (``as_of``) — a snapshot across tables, immune
  to concurrent in-flight loads.
- Time travel across the WAREHOUSE: pass ``manifest_id`` to read any
  historical consistent state (bounded by each table's vacuum
  retention, as with single-table time travel).

Scale: a manifest is a dozen (table, int) pairs — one tiny JSON file
per warehouse load, listed driver-side; the data path is exactly the
per-table txlog read.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .txlog import _link_json, tx_latest_id, tx_read

_MANIFEST = "_manifest"


def _mdir(root: str) -> Path:
    return Path(root) / _MANIFEST


def _manifests(root: str) -> list[dict]:
    d = _mdir(root)
    if not d.is_dir():
        return []
    return [json.loads(f.read_text()) for f in sorted(d.glob("*.json"))]


def publish_manifest(root: str, tables: dict[str, int],
                     max_retries: int = 10) -> int:
    """Atomically publish a consistent-snapshot manifest pinning
    ``tables`` (name → commit id). Same optimistic link-a-complete-
    temp-file protocol as the txlog publish: a crash mid-write leaves
    the previous manifest current, never a truncated one."""
    _mdir(root).mkdir(parents=True, exist_ok=True)
    last = max((m["id"] for m in _manifests(root)), default=0)
    for attempt in range(max_retries):
        nid = last + 1 + attempt
        if _link_json(_mdir(root) / f"{nid:08d}.json",
                      {"id": nid, "tables": tables}):
            return nid
    raise RuntimeError(
        f"publish_manifest: lost the publish race {max_retries} times")


def latest_manifest(root: str) -> dict | None:
    ms = _manifests(root)
    return ms[-1] if ms else None


def snapshot_current(root: str, names: list[str]) -> dict[str, int]:
    """Each table's CURRENT latest commit id — what a writer pins
    after finishing all its per-table commits."""
    return {n: tx_latest_id(f"{root}/{n}") for n in names}


def read_consistent(spark: SparkSession, root: str, names: list[str],
                    manifest_id: int | None = None,
                    ) -> dict[str, DataFrame]:
    """Snapshot read of every named table (plain or partitioned) at
    the commits one manifest pinned — the newest manifest, or
    ``manifest_id`` for warehouse-level time travel. Raises if no
    manifest exists (the warehouse was never consistently published)
    or the id is unknown."""
    ms = _manifests(root)
    if manifest_id is not None:
        ms = [m for m in ms if m["id"] == manifest_id]
    if not ms:
        raise FileNotFoundError(
            f"read_consistent: no manifest"
            + (f" with id {manifest_id}" if manifest_id is not None else "")
            + f" under {root}/{_MANIFEST}")
    pins = ms[-1]["tables"]
    missing = [n for n in names if n not in pins]
    if missing:
        raise KeyError(
            f"read_consistent: manifest {ms[-1]['id']} does not pin "
            f"{missing}")
    return {n: tx_read(spark, f"{root}/{n}", as_of=pins[n]) for n in names}
