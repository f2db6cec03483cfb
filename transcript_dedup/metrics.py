"""pipeline_runs lineage + metrics table.

Analogue of the reference's scan-state checkpoint files
(/root/reference/src/index.ts:99-110, :221-223) scaled out: one row per
completed stage with snapshot id, input/output row counts, wall time,
detector counters, and ``partition_rows`` — the rows of each part file the
stage's write produced (skew visibility; read from the parquet footers, see
io.py, so logging a stage runs no Spark job). Written through TableIO so the
metrics table itself is snapshot-committed.

Counters are a caller-owned plain dict. A value is an ``int`` or an
``Observed`` — a count a ``DataFrame.observe`` collects while the action
that already computes the frame runs, instead of an extra aggregation job.
"""

from __future__ import annotations

import time
from functools import total_ordering

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .io import TableIO


class _Metrics:
    """One ``observe`` call: the observed frame's SQL aggregates, read once
    its first action has finished."""

    def __init__(self, df: DataFrame, metrics: dict[str, str]):
        self.df = df
        self.metrics = metrics
        self.obs = Observation()
        self.values: dict[str, int] | None = None

    def get(self, key: str) -> int:
        if self.values is None:
            done = self.obs._jo.future().isCompleted
            if not done():
                # a finished action hands its metrics to the Observation
                # through the listener bus, just after it returns: drain it
                SparkContext._active_spark_context._jsc.sc().listenerBus().waitUntilEmpty()
            if not done():
                raise RuntimeError(f"counter {key!r} read before the action that computes it ran")
            if self.obs._jo.getRow().length():
                row = self.obs.get
            else:
                # the action ran, but adaptive execution cut the observed
                # stage out of its final plan (everything downstream came
                # out empty), which drops its metrics: aggregate directly
                row = self.df.agg(*[F.expr(f"{e} AS {k}") for k, e in self.metrics.items()]).first()
            self.values = {k: int(row[k] or 0) for k in self.metrics}
        return self.values[key]


@total_ordering
class Observed:
    """A counter filled by ``DataFrame.observe``: the sum of its terms, each
    one metric of one observed frame. It resolves on ``int()``, ``float()``
    and comparison once the first action over the observed frame has
    finished, and raises before that (``Observation.get`` would block
    forever). The value is that action's: observe frames that the action
    computes completely (a shuffle or broadcast input, or the frame a write
    consumes), never one cut short by a limit."""

    def __init__(self, *terms: tuple[_Metrics, str]):
        self.terms = terms

    def __add__(self, other: Observed) -> Observed:
        return Observed(*self.terms, *other.terms)

    def __int__(self) -> int:
        return sum(m.get(key) for m, key in self.terms)

    def __float__(self) -> float:
        return float(int(self))

    def __eq__(self, other) -> bool:
        return int(self) == other

    def __lt__(self, other) -> bool:
        return int(self) < other

    def __repr__(self) -> str:
        try:
            return repr(int(self))
        except RuntimeError:
            return f"Observed(pending: {', '.join(k for _, k in self.terms)})"


def observe(df: DataFrame, **metrics: str) -> tuple[DataFrame, dict[str, Observed]]:
    """``df`` observing one SQL aggregate per keyword (one Py4J call each),
    and an ``Observed`` per metric."""
    m = _Metrics(df, metrics)
    df = df.observe(m.obs, *[F.expr(f"{e} AS {k}") for k, e in metrics.items()])
    return df, {k: Observed((m, k)) for k in metrics}


def partition_counts(df: DataFrame) -> list[int]:
    """Output rows per partition (spark_partition_id rollup; two Spark jobs,
    so the pipeline logs footer-read per-file rows instead)."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .orderBy("pid")
        .collect()
    )
    return [int(r["count"]) for r in rows]


class MetricsLog:
    def __init__(self, io: TableIO, run_id: str):
        self.io = io
        self.run_id = run_id
        self.rows: list[dict] = []

    def log_stage(
        self,
        stage: str,
        snapshot_id: int | None,
        rows_in: int | Observed,
        rows_out: int,
        wall_ms: float,
        counters: dict | None = None,
        partitions: list[int] | None = None,
    ) -> None:
        self.rows.append(
            {
                "run_id": self.run_id,
                "stage": stage,
                "snapshot_id": None if snapshot_id is None else int(snapshot_id),
                "rows_in": int(rows_in),
                "rows_out": int(rows_out),
                "wall_ms": float(wall_ms),
                "counters": {k: int(v) for k, v in (counters or {}).items()},
                "partition_rows": partitions or [],
            }
        )

    def flush(self, spark: SparkSession) -> None:
        """Append the logged rows to ``pipeline_runs``: one write job. The
        frame is built from an Arrow table (no Python worker)."""
        if not self.rows:
            return
        schema = pa.schema(
            [
                ("run_id", pa.string()),
                ("stage", pa.string()),
                ("snapshot_id", pa.int64()),
                ("rows_in", pa.int64()),
                ("rows_out", pa.int64()),
                ("wall_ms", pa.float64()),
                ("counters", pa.map_(pa.string(), pa.int64())),
                ("partition_rows", pa.list_(pa.int64())),
            ]
        )
        rows = [{**r, "counters": list(r["counters"].items())} for r in self.rows]
        self.io.write(
            spark.createDataFrame(pa.Table.from_pylist(rows, schema)),
            "pipeline_runs",
            mode="append",
        )


class StageTimer:
    def __init__(self):
        self.t0 = time.perf_counter()

    def ms(self) -> float:
        return (time.perf_counter() - self.t0) * 1000.0
