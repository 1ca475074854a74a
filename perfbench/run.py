"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds seeded inputs, runs one workload
against the engine's public entry points (``runner.run_crawl``,
``jobs/curate_job.py``), checks the outputs, prints a readable report and,
as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` repeats the timed region with
per-layer spans (perfbench/trace.py) and reports the per-layer metrics.
See perfbench/NOTES.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_polite", "curate_dedup")
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "op_s_p50": "s",
              "peak_rss_mb": "MB"}


class Context:
    """What a workload gets: the session, a scratch dir and the cache dir."""

    def __init__(self, spark, work: str, cache: str):
        self.spark, self.work, self.cache = spark, work, cache


def _missing_program() -> list[str]:
    need = ["newscrawler_spark/runner.py", "jobs/curate_job.py",
            "tests/oracle_crawler.py"]
    return [p for p in need if not os.path.exists(os.path.join(ROOT, p))]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _missing_program()
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import box

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    cache = os.path.join(ROOT, ".perfbench_cache")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    try:
        return _run(args, box, work, cache, event_log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


def _run(args, box, work: str, cache: str, event_log: str | None) -> int:
    calib = [box.calibrate()]
    cpu0 = box.cpu_times()
    from perfbench import inputs

    inputs.corpus_path(cache)  # first run in a checkout renders the corpus
    t0 = time.monotonic()
    spark = box.start_session(ROOT, work, event_log)
    session_s = time.monotonic() - t0
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    ctx = Context(spark, work, cache)
    if args.workload == "crawl_polite":
        from perfbench import crawl as W
    else:
        from perfbench import curate as W
    try:
        res = W.run(ctx, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        box.stop_session(spark)
        return 1
    box.stop_session(spark)
    steal = box.steal_frac(cpu0, box.cpu_times())
    calib.append(box.calibrate())

    setup_s = session_s + statistics.median(res["setup"]) if "setup" in res else None
    correct = res["failed"] == 0 and "error" not in res
    report = {
        "workload": args.workload, "seed": args.seed,
        "setup_s": setup_s, "session_s": session_s,
        "setup_reps_s": res.get("setup"),
        "timed_wall_s": res.get("wall"),
        "peak_rss_mb": res.get("peak_rss_mb"),
        "failed_frac": res["failed"] / res["attempted"],
        **res.get("report", {}),
        "box": {"nproc": box.nproc(), "mem_total_mb": round(box.mem_total_mb()),
                "driver_heap": heap, "steal_frac": steal,
                "calibration_s": calib},
        "notes": res.get("notes", []) + ([res["error"]] if "error" in res else []),
    }
    if args.trace:
        from perfbench import trace as T

        tr = res.get("traced")
        if tr is None:
            metrics = {}
        else:
            tr["tracer"].dump(os.path.join(
                _out_dir(), f"trace-{args.workload}-seed{args.seed}.json"))
            layer = T.layer_metrics(tr["tracer"].spans,
                                    T.spark_metrics_by_group(event_log),
                                    tr["extra"])
            metrics = {k: {"value": v, "unit": T.LAYER_METRICS[k]}
                       for k, v in layer.items()}
            if not tr["digest_ok"]:
                correct = False
                report["notes"].append("traced outputs differ from untraced")
    else:
        vals = {"setup_s": setup_s, "throughput_per_s": res.get("throughput_per_s"),
                "op_s_p50": res.get("op_s_p50"), "peak_rss_mb": res.get("peak_rss_mb")}
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in vals.items() if v is not None}
    print("perfbench report " + json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _out_dir() -> str:
    d = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    return d


if __name__ == "__main__":
    sys.exit(main())
