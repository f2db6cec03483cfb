"""Shared pieces of the timed and traced runs: environment, session set-up,
job groups, the memory sampler and the per-result output check."""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = min(4, len(os.sched_getaffinity(0)))
RECALL_TARGET = 0.99
WARMUP_CONVS = 50
# a DedupPipeline.run still running this long after process start has its
# jobs cancelled and counts as failed, so the process ends within 180 s
OP_DEADLINE_S = 160.0
T_PROCESS = time.monotonic()


def configure_environment(work: str) -> str:
    """Keep every file Spark, the JVM and the native-kernel build write inside
    the checkout; size the driver for a small shared box."""
    tmp = os.path.join(WORK_ROOT, "tmp")  # shared: the compiled kernel is reused
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # local mode runs every task thread in the driver JVM; 2g holds the
    # largest workload and caps heap growth, which otherwise makes the peak
    # resident memory swing by GBs between runs (get_spark's 32g default
    # exceeds small boxes' RAM)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp
    return tmp


class RssSampler:
    """Peak summed resident memory of the driver JVM and the Python workers
    it forks, read from /proc every 50 ms.

    Only the JVM this process starts and the Python interpreter processes
    under it are counted. The JVM also spawns short-lived helpers (Hadoop's
    local file system runs ``chmod`` and the like); until such a child
    execs, it shares the JVM's address space and /proc reports the whole
    JVM resident set for it as well: counting it would count the JVM twice
    in whichever samples happen to catch it."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._python = os.path.realpath(sys.executable)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @staticmethod
    def _exe(pid: int) -> str:
        try:
            return os.readlink(f"/proc/{pid}/exe")
        except OSError:
            return ""

    def _members(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [(os.getpid(), False)]
        while todo:
            parent, under_jvm = todo.pop()
            for c in children.get(parent, []):
                exe = self._exe(c)
                is_jvm = not under_jvm and os.path.basename(exe) == "java"
                if is_jvm or (under_jvm and exe == self._python):
                    out.append(c)
                todo.append((c, under_jvm or is_jvm))
        return out

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _loop(self):
        while not self._stop.wait(0.05):
            self.peak = max(self.peak, sum(self._rss(p) for p in self._members()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)


def start_session(work: str, tmp: str, event_log: str | None):
    """Session start, native kernel load and worker prewarm, each timed.

    Session settings beyond get_spark's defaults come from here: AQE off as
    in tools/bench_pipeline.py (local-mode stage waves are pure scheduling
    latency), files kept inside the checkout, and for the traced run the
    event log. The engine has no public loader for its C kernel; the
    signature kernels call ``_native_lib`` on first use, so set-up calls it
    once to compile and load it in the driver."""
    from transcript_dedup import signatures
    from transcript_dedup.session import get_spark, prewarm_python_workers

    conf = {
        "spark.sql.adaptive.enabled": "false",
        # initial heap = SPARK_DRIVER_MEM, touched at start: how much of the
        # heap G1 grows into and touches follows its pause-time heuristics,
        # which a loaded host moves, so the heap's share of the peak resident
        # memory is fixed instead
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
        f"-XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )
    t1 = time.perf_counter()
    native = signatures._native_lib() is not None
    t2 = time.perf_counter()
    with job_group(spark, "session.prewarm"):
        prewarm_python_workers(spark, CORES)
    t3 = time.perf_counter()
    return spark, {
        "session.start_s": t1 - t0,
        "session.kernel_s": t2 - t1,
        "session.prewarm_s": t3 - t2,
        "signatures.native": 1.0 if native else 0.0,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit. The JVM leaves when its
    stdin closes, which otherwise happens only as this process exits."""
    from pyspark import SparkContext
    from transcript_dedup.session import stop_spark

    stop_spark(spark)
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def warm_up(spark, corpus) -> float:
    """The repository's bench warm-up (tools/bench_pipeline.py): the batch
    dataflow over a few conversations, so JIT, codegen and the Arrow kernels
    are warm before the timed run. Returns its wall seconds."""
    from transcript_dedup.config import DedupConfig
    from transcript_dedup.generate import corpus_to_spark
    from transcript_dedup.pipeline import run_dedup_dataframes
    from transcript_dedup.reconstruct import reconstruct_conversations
    from transcript_dedup.signatures import add_signatures

    from perfbench.workloads import prefix_turns

    cfg = DedupConfig()
    t0 = time.perf_counter()
    with op_deadline(spark):
        turns = corpus_to_spark(spark, prefix_turns(corpus, WARMUP_CONVS))
        conv = add_signatures(reconstruct_conversations(turns), cfg)
        run_dedup_dataframes(conv, cfg)["decisions"].count()
    spark.catalog.clearCache()
    return time.perf_counter() - t0


@contextmanager
def job_group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@contextmanager
def op_deadline(spark):
    """Cancel the running jobs when the process nears its time limit."""
    left = OP_DEADLINE_S - (time.monotonic() - T_PROCESS)
    timer = threading.Timer(max(left, 0.0), spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        yield
    finally:
        timer.cancel()


def write_input(corpus, work: str) -> tuple[str, int]:
    """The engine reads the generated turns as a parquet table, as in
    production; returns (path, bytes)."""
    path = os.path.join(work, "input", "turns.parquet")
    os.makedirs(os.path.dirname(path))
    # microsecond UTC timestamps: Spark reads them as TimestampType, the
    # type corpus_to_spark gives the same naive times under the UTC session
    turns = corpus.turns.assign(ts=corpus.turns.ts.dt.tz_localize("UTC"))
    turns.to_parquet(path, index=False, coerce_timestamps="us")
    return path, os.path.getsize(path)


@dataclass
class Checked:
    recall: float
    false_merges: int
    digest: str
    repeats: bool


def check_run(result, corpus, digests, key: str, log) -> Checked:
    """Planted-truth scores and the digest repeat of one pipeline result.

    Only a digest that differs from an earlier run of the same seed fails the
    run. Recall and cross-family merges are measured and reported against
    the north-rule targets (recall >= 0.99, no false merges); the engine
    misses them on the plain generator mix, which is an engine defect and
    not something the benchmark hides by failing every run."""
    from perfbench.checks import decisions_digest, truth_scores

    comps = result["components"].toPandas()
    recall, false_merges = truth_scores(comps, corpus.truth)
    digest = decisions_digest(result["decisions"].toPandas())
    c = Checked(recall, false_merges, digest, digests.check(key, digest))
    on_target = recall >= RECALL_TARGET and false_merges == 0
    log(
        f"check {key}: recall={recall:.5f} false_merge_pairs={false_merges} "
        f"({'meets' if on_target else 'BELOW'} the recall/false-merge target) "
        f"digest={digest[:16]} repeats={c.repeats}"
    )
    return c
