"""TableIO — snapshot-committed table storage seam.

The design targets Iceberg (``df.writeTo(cat.db.table).append()``, snapshot
ids, MERGE INTO, equality deletes); no Iceberg runtime jar ships in this
sandbox and the network is unavailable, so the same semantics are emulated
on a parquet directory + JSON manifest (SURVEY.md section 7 step 0):

  - every committed write is a new immutable snapshot directory
    ``<base>/<table>/snap-<n>``; the manifest records the current snapshot
    id, row count, and the caller-supplied input fingerprint;
  - ``mode='overwrite'`` snapshots replace the table contents;
    ``mode='append'`` snapshots record the previous snapshot's data paths as
    parents, so the write costs O(delta) and readers see the union — the
    Iceberg append-manifest analogue;
  - readers always see the manifest's current snapshot (atomic rename of the
    manifest file = the commit point);
  - compaction (streaming.StreamingDedup.compact) rewrites an append chain
    as one overwrite snapshot — the Iceberg rewrite_data_files analogue;
  - resume (pipeline.py) = "skip the stage if a committed snapshot exists
    whose input fingerprint matches" — the Iceberg analogue of the
    reference's anti-join resume (/root/reference/src/index.ts:186).

Swapping in a real Iceberg catalog means replacing this class only.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _snap_paths(snap: dict) -> list[str]:
    """Data paths of a snapshot; tolerates pre-append-era manifests that
    recorded a scalar ``path`` key (resume must work across the upgrade)."""
    return snap.get("paths") or [snap["path"]]


class TableIO:
    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.manifest_path = os.path.join(base_dir, "manifest.json")

    # -- manifest ----------------------------------------------------------
    def _load(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"tables": {}}
        with open(self.manifest_path) as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.base_dir, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic commit point

    # -- table ops ---------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        fingerprint: str | None = None,
        mode: str = "overwrite",
    ) -> int:
        """Commit ``df`` as a new snapshot of ``table``; returns snapshot id.

        ``mode='append'``: only ``df``'s rows are written (O(delta) I/O);
        the snapshot's readable contents = previous current snapshot + df.
        """
        man = self._load()
        t = man["tables"].get(table, {"snapshots": []})
        snap_id = (t["snapshots"][-1]["id"] + 1) if t["snapshots"] else 1
        path = os.path.join(self.base_dir, table, f"snap-{snap_id}")
        df.write.mode("overwrite").parquet(path)
        delta_rows = SparkSession.getActiveSession().read.parquet(path).count()
        if mode == "append" and t.get("current"):
            prev = next(s for s in t["snapshots"] if s["id"] == t["current"])
            paths = _snap_paths(prev) + [path]
            rows = prev["rows"] + delta_rows
        else:
            paths = [path]
            rows = delta_rows
        t["snapshots"].append(
            {
                "id": snap_id,
                "paths": paths,
                "rows": rows,
                "delta_rows": delta_rows,
                "fingerprint": fingerprint,
                "mode": mode,
            }
        )
        t["current"] = snap_id
        man["tables"][table] = t
        self._commit(man)
        return snap_id

    def read(self, spark: SparkSession, table: str, snapshot: int | None = None) -> DataFrame:
        man = self._load()
        t = man["tables"][table]
        snap_id = snapshot or t["current"]
        snap = next(s for s in t["snapshots"] if s["id"] == snap_id)
        return spark.read.parquet(*_snap_paths(snap))

    def current_snapshot(self, table: str) -> dict | None:
        man = self._load()
        t = man["tables"].get(table)
        if not t or not t.get("current"):
            return None
        return next(s for s in t["snapshots"] if s["id"] == t["current"])

    def has_fingerprint(self, table: str, fingerprint: str) -> bool:
        snap = self.current_snapshot(table)
        return snap is not None and snap.get("fingerprint") == fingerprint
