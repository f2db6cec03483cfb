"""TableIO — snapshot-committed table storage seam.

The design targets Iceberg (``df.writeTo(cat.db.table).append()``, snapshot
ids, MERGE INTO, equality deletes); no Iceberg runtime jar ships in this
sandbox and the network is unavailable, so the same semantics are emulated
on a parquet directory + JSON manifest (SURVEY.md section 7 step 0):

  - every committed write is a new immutable snapshot directory
    ``<base>/<table>/snap-<n>``; the manifest records the current snapshot
    id, row counts, the written schema and the caller-supplied input
    fingerprint;
  - a commit costs the write job alone: row counts (total, delta and per
    part file) come from the parquet footers of the files just written, and
    the recorded schema (nullable, exactly what Spark infers from those
    files) is handed to the reader, so neither a count nor a
    schema-inference job runs. Snapshots committed before schemas were
    recorded still read, through inference;
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

import glob
import json
import os
import tempfile

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _snap_paths(snap: dict) -> list[str]:
    """Data paths of a snapshot; tolerates pre-append-era manifests that
    recorded a scalar ``path`` key (resume must work across the upgrade)."""
    return snap.get("paths") or [snap["path"]]


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: the schema Spark
    infers when it reads parquet files back (``StructType.asNullable``)."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class Snapshot(dict):
    """A committed snapshot's manifest entry. ``int(snap)`` is its id, so it
    stands wherever a snapshot id is expected (``write`` used to return the
    bare id)."""

    def __int__(self) -> int:
        return self["id"]


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
    ) -> Snapshot:
        """Commit ``df`` as a new snapshot of ``table``; returns it.

        ``mode='append'``: only ``df``'s rows are written (O(delta) I/O);
        the snapshot's readable contents = previous current snapshot + df.

        The write is the only Spark job: ``file_rows`` (rows per part file
        written, in file-name order), ``delta_rows`` and ``rows`` are read
        from the new files' parquet footers.
        """
        man = self._load()
        t = man["tables"].get(table, {"snapshots": []})
        snap_id = (t["snapshots"][-1]["id"] + 1) if t["snapshots"] else 1
        path = os.path.join(self.base_dir, table, f"snap-{snap_id}")
        schema = _nullable(df.schema)
        df.write.mode("overwrite").parquet(path)
        file_rows = [
            pq.read_metadata(f).num_rows for f in sorted(glob.glob(os.path.join(path, "part-*")))
        ]
        delta_rows = sum(file_rows)
        if mode == "append" and t.get("current"):
            prev = next(s for s in t["snapshots"] if s["id"] == t["current"])
            paths = _snap_paths(prev) + [path]
            rows = prev["rows"] + delta_rows
        else:
            paths = [path]
            rows = delta_rows
        entry = {
            "id": snap_id,
            "paths": paths,
            "rows": rows,
            "delta_rows": delta_rows,
            "file_rows": file_rows,
            "schema": schema.jsonValue(),
            "fingerprint": fingerprint,
            "mode": mode,
        }
        t["snapshots"].append(entry)
        t["current"] = snap_id
        man["tables"][table] = t
        self._commit(man)
        return Snapshot(entry)

    def read(self, spark: SparkSession, table: str, snapshot: int | None = None) -> DataFrame:
        man = self._load()
        t = man["tables"][table]
        snap_id = snapshot or t["current"]
        return self.read_snapshot(spark, next(s for s in t["snapshots"] if s["id"] == snap_id))

    @staticmethod
    def read_snapshot(spark: SparkSession, snap: dict) -> DataFrame:
        """The contents of a snapshot (a manifest entry or a ``Snapshot``);
        with its recorded schema, no schema-inference job runs."""
        reader = spark.read
        if snap.get("schema") is not None:
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        return reader.parquet(*_snap_paths(snap))

    def current_snapshot(self, table: str) -> Snapshot | None:
        man = self._load()
        t = man["tables"].get(table)
        if not t or not t.get("current"):
            return None
        return Snapshot(next(s for s in t["snapshots"] if s["id"] == t["current"]))
