"""Thin snapshot/append table contract (Iceberg-shaped, parquet-backed).

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar (SURVEY.md §7.0), so the same contract — atomic append-only snapshot
commits, snapshot listing, read-of-committed-data-only — is implemented over
a parquet directory plus a ``_manifest.json``.  The manifest is the commit
log: data files land first, then the manifest is atomically replaced
(``os.replace``); a crash between the two leaves orphan files that are
invisible to readers, exactly like Iceberg's metadata swap.  Swapping in
``iceberg-spark-runtime`` later only changes this module.

Reference analog: the incremental flush sink that rewrites output after each
completed segment (``/root/reference/disconnected_language_detector.py:
1011-1037``) — except commits here are O(delta) appends, not O(total)
rewrites (SURVEY.md §4.1).
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class ParquetTableIO:
    """The snapshot/append contract over parquet snapshot dirs.

    The commit protocol — data first, atomic manifest replace second,
    readers see only the manifest — is what tests/test_tableio_contract.py
    pins; an Iceberg runtime would replace the two parquet calls with
    ``df.writeTo(...)`` and keep everything else.
    """

    def __init__(self, table_path: str):
        self.table_path = table_path
        self._lock = threading.Lock()
        os.makedirs(table_path, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.table_path, "_manifest.json")

    def snapshots(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            return json.load(f)["snapshots"]

    def _swap(self, snaps: list[dict]) -> None:
        tmp = self._manifest_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"snapshots": snaps}, f, indent=1)
        os.replace(tmp, self._manifest_path)  # the atomic commit point

    def append(self, df: DataFrame, meta: dict | Callable[[], dict] | None = None) -> str:
        """Write df as a new snapshot; commit by atomic manifest replace.

        Commits through one instance are serialised by its lock.  A callable
        ``meta`` runs under that lock once the data files landed: it can
        record what the write produced (``Observation`` metrics), or raise to
        veto the commit, leaving the data dir an invisible orphan."""
        snap_id = uuid.uuid4().hex[:16]
        df.write.mode("overwrite").parquet(self.snapshot_dir(snap_id))
        with self._lock:
            entry = (meta() if callable(meta) else meta) or {}
            snap = {"id": snap_id, "dir": f"snap-{snap_id}", "meta": entry}
            self._swap([*self.snapshots(), snap])
        return snap_id

    def snapshot_dir(self, snap_id: str) -> str:
        return os.path.join(self.table_path, f"snap-{snap_id}")

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Union of all COMMITTED snapshots (orphan dirs are ignored)."""
        snaps = self.snapshots()
        if not snaps:
            return None
        paths = [os.path.join(self.table_path, s["dir"]) for s in snaps]
        return spark.read.parquet(*paths)

    def committed_meta(self) -> list[dict]:
        return [s["meta"] for s in self.snapshots()]

    def prune(self, keep: "Callable[[dict], bool]") -> int:
        """Atomically drop snapshots failing ``keep`` from the manifest.

        The data dirs become orphans (invisible to readers) — the same shape
        as Iceberg snapshot expiry.  Returns the number of dropped snapshots.
        """
        with self._lock:
            snaps = self.snapshots()
            kept = [s for s in snaps if keep(s)]
            if len(kept) < len(snaps):
                self._swap(kept)
        return len(snaps) - len(kept)
