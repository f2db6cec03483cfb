"""TableIO commit metadata: row counts read from the written parquet
footers, the recorded read schema, and snapshots whose manifest entries
predate both (they must still read and resume)."""

from __future__ import annotations

import glob
import json
import os

from transcript_dedup.io import TableIO
from transcript_dedup.pipeline import STAGES, DedupPipeline


def _file_counts(spark, snap) -> list[int]:
    """Spark's row count of each part file of the snapshot's newest data
    directory, in file-name order."""
    files = sorted(glob.glob(os.path.join(snap["paths"][-1], "part-*")))
    return [spark.read.parquet(f).count() for f in files]


def test_footer_counts_equal_spark_counts(spark, tmp_path):
    io = TableIO(str(tmp_path))
    frames = [
        ("overwrite", spark.range(0, 1000, numPartitions=3)),
        ("append", spark.range(1000, 1250, numPartitions=2)),
        ("append", spark.range(0).filter("id > 0")),
        ("overwrite", spark.range(0).filter("id > 0")),
    ]
    for mode, df in frames:
        snap = io.write(df, "t", mode=mode)
        assert snap == io.current_snapshot("t") and int(snap) == snap["id"]
        assert snap["rows"] == io.read(spark, "t").count()
        assert snap["delta_rows"] == df.count() == sum(snap["file_rows"])
        assert snap["file_rows"] == _file_counts(spark, snap)
    assert snap["rows"] == 0 and snap["file_rows"] == [0]


def test_recorded_schema_is_the_inferred_schema(spark, tmp_path):
    """The recorded schema is exactly what Spark infers from the files
    (every field nullable), so reading with it plans identically."""
    io = TableIO(str(tmp_path))
    df = spark.range(5).selectExpr(
        "id",
        "CAST(id AS INT) AS n",
        "array(id, id + 1) AS arr",
        "map('k', id) AS m",
        "named_struct('a', id, 'b', array('x')) AS s",
    )
    io.write(df, "t")
    inferred = spark.read.parquet(io.current_snapshot("t")["paths"][0])
    assert io.read(spark, "t").schema == inferred.schema
    assert sorted(io.read(spark, "t").collect()) == sorted(inferred.collect())


def _strip_to_legacy(io: TableIO) -> None:
    """Rewrite the manifest as the entries were written before schemas and
    per-file rows were recorded."""
    man = io._load()
    for t in man["tables"].values():
        for snap in t["snapshots"]:
            del snap["schema"], snap["file_rows"]
    io._commit(man)


def test_legacy_manifest_reads_and_resumes(spark, cfg, turns200, tmp_path):
    out = str(tmp_path / "pipe")
    first = DedupPipeline(spark, out, cfg).run(turns200, input_fingerprint="legacy")
    want = {name: sorted(map(str, first[name].collect())) for name in STAGES}
    io = TableIO(out)
    _strip_to_legacy(io)
    before = {name: io.current_snapshot(name)["id"] for name in STAGES}
    again = DedupPipeline(spark, out, cfg).run(turns200, input_fingerprint="legacy")
    for name in STAGES:
        assert io.current_snapshot(name)["id"] == before[name]  # resumed
        assert sorted(map(str, again[name].collect())) == want[name]
    with open(io.manifest_path) as f:
        assert "schema" not in json.load(f)["tables"]["decisions"]["snapshots"][-1]

