#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation, run from the root of
a checkout.

    python3 perfbench/run.py --workload lake_queries --seed 1 \
        --seconds 5 --trace 0

Workloads (BENCHMARK.json lists the metrics and the workloads that are
gated; corpus_prep runs on request only, see below):

- ``lake_queries``: catalog, Merkle, interval, relational and lazy-fetch
  ops on one driver at sf0.01 (spark_workloads.py);
- ``fs_serve_live``: a mirror-backed metadata service under three
  closed-loop clients while one writer commits and folds (fs_serve.py);
- ``corpus_prep``: dedup, text, similarity and media ops on one driver
  at sf0.1 (spark_workloads.py). Not in BENCHMARK.json: one run takes
  longer than the gated run budget allows, and its first run per seed
  pays a quadratic DuckDB oracle for D1.

All inputs are generated from ``--seed``. Every output is checked, and
wrong or failed operations count in ``failed``. Human-readable lines
(every metric with its unit, error rate with its base, box state) come
first; the last line of stdout is the JSON result. ``--trace 1`` adds
in-memory spans, puts the per-layer metrics in the result line instead
of the end-to-end ones, prints each with the end-to-end metric it
should move (layer_map.py), and writes the span tree to
perfbench/_work/traces/.

Self-test options: ``--scale tiny`` (sf0.001, ~2k inodes) and
``--corrupt OP`` (corrupt that op's result before it is checked).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_queries", "corpus_prep", "fs_serve_live")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="append", metavar="OP")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_checkout() -> str | None:
    for rel in ("pufs_spark/__init__.py", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a full checkout"
    return None


def main(argv=None) -> int:
    args = parse_args(argv)
    problem = check_checkout()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path[:0] = [HERE, ROOT]
    from common import RssSampler, box_state, stop_descendants, write_spans

    box_before = box_state()
    work = os.path.join(HERE, "_work")
    run_dir = os.path.join(work, f"run-{args.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run and its children write stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    spark_conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    data_root = os.path.join(work, "data")
    rec = None
    spark_holder: list = []
    rss = RssSampler().start()
    try:
        if args.workload == "fs_serve_live":
            from fs_serve import FsServeLive

            wl = FsServeLive(args, run_dir, spark_conf)
        else:
            from spark_workloads import SparkWorkload

            wl = SparkWorkload(args.workload, args, run_dir, data_root, spark_conf)
        rec = wl.run(spark_holder)
        rss.stop()
        rec.e2e["py_peak_rss_mb"] = (rss.peak_py_kb / 1024, "MB")
        rec.report["peak_rss_mb"] = round(rss.peak_kb / 1024, 1)
        rec.report["peak_rss_mb_by_process"] = {
            k: round(v / 1024, 1) for k, v in rss.peak_by_name.items()}
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        print("perfbench: run failed, no result", file=sys.stderr)
        return 1
    finally:
        t_stop = time.perf_counter()
        for spark in spark_holder:
            try:
                spark.stop()
            except Exception:  # noqa: BLE001
                pass
        stop_descendants()
        if rec is None:
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            rec.report["phase.stop_s"] = round(time.perf_counter() - t_stop, 3)
    box_after = box_state()

    # human-readable report
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"scale {args.scale} cpus_used {os.environ['SPARK_GRAFT_CPUS']}")
    stolen = box_after.pop("steal_s") - box_before.pop("steal_s")
    print(f"box before {json.dumps(box_before)} after {json.dumps(box_after)} "
          f"steal_s {stolen:.2f} (CPU time lost to other guests during the run)")
    for name, (value, unit) in sorted(rec.e2e.items()):
        print(f"  {name:28s} {value:14.4f} {unit}")
    for name, value in sorted(rec.report.items()):
        if isinstance(value, dict):  # one level of scalars, e.g. self times
            for k, v in value.items():
                if not isinstance(v, (dict, list)):
                    print(f"  {name + '.' + k:44s} {v}")
        elif not isinstance(value, list) or not any(isinstance(v, (dict, list)) for v in value):
            print(f"  {name:28s} {value}")
    rate = rec.failed / rec.attempted if rec.attempted else 1.0
    print(f"  {'error_rate':28s} {rate:14.6f} ({rec.failed} of {rec.attempted} ops)")
    for e in rec.errors[:10]:
        print(f"  error: {e}")

    if args.trace:
        from layer_map import expected, where

        names = [m["name"] for m in spec["per_layer"]]
        want = expected(args.workload, names)
        got = want & set(rec.layers)
        wrong = sorted((want - got) | ((set(names) - want) & set(rec.layers)))
        if wrong:
            print(f"perfbench: recorded layers differ from layer_map.py: {wrong}",
                  file=sys.stderr)
            shutil.rmtree(run_dir, ignore_errors=True)
            return 1
        for name, (value, unit) in sorted(rec.layers.items()):
            moves = f"  -> {where(name)[1]}" if name in want else ""
            print(f"  {name:44s} {value:14.4f} {unit}{moves}")
        for name in sorted(set(names) - want):
            print(f"  {name:44s} not recorded on {args.workload} (0 in the result line)")
        # the result line names every per-layer metric; one this workload
        # does not exercise (lake fetches on the service, say) reads 0
        metrics = {
            m["name"]: {"value": float(rec.layers[m["name"]][0]) if m["name"] in want
                        else 0.0, "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        path = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json")
        write_spans(path, rec.spans, {
            "workload": args.workload, "seed": args.seed,
            "box_before": box_before, "box_after": box_after,
            "end_to_end": {k: v[0] for k, v in rec.e2e.items()},
            "layers": {k: v[0] for k, v in rec.layers.items()},
            "report": rec.report,
        })
        print(f"  spans written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = {
            m["name"]: {"value": float(rec.e2e[m["name"]][0]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": int(rec.attempted),
        "failed": int(rec.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    # every process the run starts (the Spark JVM and its Python
    # workers, the service and load generator) ends before this one
    # does, on every way out of main
    from common import adopt_orphans, stop_descendants

    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = main()
    finally:
        stop_descendants()
    sys.exit(rc)
