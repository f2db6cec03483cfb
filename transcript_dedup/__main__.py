"""CLI — the engine as a tool (the reference is a Node CLI; scan/find-dupes/
review become one resumable pipeline invocation, SURVEY.md section 3).

    python -m transcript_dedup run --input turns.parquet --out state/ [--resume]
    python -m transcript_dedup stream --input dir/ --out state/ --checkpoint ckpt/
    python -m transcript_dedup report --out state/

On a cluster the same module runs under spark-submit:
    spark-submit --py-files transcript_dedup.zip -m transcript_dedup ...
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="transcript_dedup")
    sub = p.add_subparsers(dest="cmd", required=True)

    runp = sub.add_parser("run", help="batch dedup pipeline (resumable)")
    runp.add_argument("--input", required=True, help="turns parquet path")
    runp.add_argument("--out", required=True, help="state/output directory")
    runp.add_argument("--no-resume", action="store_true")
    runp.add_argument("--master", default=None)

    stp = sub.add_parser("stream", help="incremental streaming dedup")
    stp.add_argument("--input", required=True, help="directory watched for turn parquet files")
    stp.add_argument("--out", required=True)
    stp.add_argument("--checkpoint", required=True)
    stp.add_argument("--master", default=None)
    stp.add_argument("--continuous", action="store_true", help="keep running (default: availableNow)")

    rep = sub.add_parser("report", help="print decision/metrics summary from state dir")
    rep.add_argument("--out", required=True)
    rep.add_argument("--master", default=None)

    a = p.parse_args(argv)

    from .config import DedupConfig
    from .session import get_spark

    spark = get_spark("transcript-dedup-cli", master=a.master)
    cfg = DedupConfig()

    if a.cmd == "run":
        from .pipeline import DedupPipeline

        pipe = DedupPipeline(spark, a.out, cfg)
        turns = spark.read.parquet(a.input)
        res = pipe.run(turns, input_fingerprint=a.input, resume=not a.no_resume)
        summary = {
            "conversations": res["conversations"].count(),
            "matched_pairs": res["candidate_pairs"].filter("is_match").count(),
            "components": res["components"].select("component_id").distinct().count(),
            "decisions": res["decisions"].count(),
            "auto": res["decisions"].filter("decision_type = 'auto'").count(),
        }
        print(json.dumps(summary))

    elif a.cmd == "stream":
        from .streaming import StreamingDedup

        sd = StreamingDedup(spark, a.out, cfg)
        q = sd.start(a.input, a.checkpoint, available_now=not a.continuous)
        q.awaitTermination()
        print(json.dumps({"status": "drained", "batches": "see checkpoint"}))

    elif a.cmd == "report":
        from .io import TableIO

        io = TableIO(a.out)
        out = {}
        for t in ("conversations", "candidate_pairs", "components", "decisions", "pipeline_runs"):
            snap = io.current_snapshot(t)
            if snap:
                out[t] = {"snapshot": snap["id"], "rows": snap["rows"]}
        if "pipeline_runs" in out:
            m = io.read(spark, "pipeline_runs")
            out["stages"] = [
                {
                    "stage": r["stage"],
                    "rows_out": r["rows_out"],
                    "wall_ms": round(r["wall_ms"], 1),
                    "counters": dict(r["counters"] or {}),
                }
                for r in m.collect()
            ]
        print(json.dumps(out))

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
