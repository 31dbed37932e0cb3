#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny scale (sf0.001, ~2k inodes).

    python3 perfbench/selftest.py [workload ...]

For each workload it makes two runs of perfbench/run.py and asserts:

1. untraced: every end-to-end metric of BENCHMARK.json is in the result
   line, the workload's own metrics are printed with their units, and
   every op is counted correct;
2. traced, with one op's result deliberately corrupted: every per-layer
   metric is in the result line, the trace records exactly the layers
   layer_map.py assigns to the workload, the corruption raises the
   error rate, and the layers agree with measurements they are not
   derived from: per-layer self times sum to the pass wall timed on the
   loop's clock (within 10%), every Spark job span (JVM clock) lies
   inside the build or execute span (Python clock) it is filed under,
   and each op's task run time fits in its job time times the task
   slots.

Takes a few minutes; exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layer_map import expected  # noqa: E402

# op whose result the traced run corrupts, and the workload's own
# human-readable metrics (beyond the shared end-to-end set)
CASES = {
    "lake_queries": ("Q5_local_supplier", ["first_pass_s", "peak_rss_mb"]),
    "corpus_prep": ("T2_lang_id", ["first_pass_s", "peak_rss_mb"]),
    "fs_serve_live": (
        "getattr",
        ["first_pass_s", "peak_rss_mb", "getattr_p50_ms", "list_p50_ms",
         "read_p50_ms", "commit_visible_s"],
    ),
}


def run(workload: str, trace: int, corrupt: str | None = None) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "3",
           "--trace", str(trace), "--scale", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload}: run.py exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def within(a: float, b: float, tol: float = 0.10) -> bool:
    return abs(a - b) <= tol * max(abs(b), 1e-3)


def selftest(workload: str, spec: dict) -> None:
    corrupt_op, extra = CASES[workload]
    res, out = run(workload, 0)
    names = [m["name"] for m in spec["end_to_end"]]
    check(sorted(res["metrics"]) == sorted(names),
          f"{workload}: every end-to-end metric in the result line")
    check(all(res["metrics"][n]["value"] > 0 for n in names),
          f"{workload}: every end-to-end metric is non-zero")
    for n in names + extra:
        check(any(ln.split()[:1] == [n] for ln in out.splitlines()),
              f"{workload}: {n} printed by name")
    check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
          f"{workload}: {res['attempted']} ops, all correct")
    check(any(ln.split()[:1] == ["error_rate"] and "of" in ln for ln in out.splitlines()),
          f"{workload}: error_rate printed with its base")

    res, out = run(workload, 1, corrupt_op)
    layer_names = [m["name"] for m in spec["per_layer"]]
    check(sorted(res["metrics"]) == sorted(layer_names),
          f"{workload}: every per-layer metric in the traced result line")
    check(res["failed"] > 0 and not res["correct"],
          f"{workload}: corrupting {corrupt_op} raises error_rate "
          f"({res['failed']} of {res['attempted']})")
    trace_path = os.path.join(HERE, "_work", "traces", f"{workload}-seed7.json")
    with open(trace_path) as f:
        tr = json.load(f)
    recorded = set(tr["layers"]) & set(layer_names)
    want = expected(workload, layer_names)
    check(recorded == want,
          f"{workload}: the trace records the {len(want)} layers layer_map.py "
          f"assigns it (missing {sorted(want - recorded)}, "
          f"unexpected {sorted(recorded - want)})")
    check("tracing_overhead.pass_s" in tr["report"]
          or "tracing_overhead.op_p50_ms" in tr["report"],
          f"{workload}: tracing overhead reported")
    spans = tr["spans"]
    if workload == "fs_serve_live":
        names = {s["name"] for s in spans}
        check({"request.getattr", "serving.handle", "sources.cas.read",
               "writer.cycle", "streaming.mirror.fold"} <= names,
              f"{workload}: request/handle/cas and commit/fold spans recorded")
        return
    if workload == "lake_queries":
        check(tr["layers"]["sources.sparse.warm_remote_bytes"] == 0,
              f"{workload}: the warm read fetched 0 remote bytes")
    cov = tr["report"]["coverage"]
    check(within(cov["layer_sum_s"], cov["pass_wall_s"]),
          f"{workload}: layer self times sum to the pass wall "
          f"({cov['layer_sum_s']:.3f} vs {cov['pass_wall_s']:.3f} s)")
    bad = [
        s["attrs"]["jobId"] for s in spans
        if s["name"] == "spark.job"
        and not (spans[s["parent"]]["start"] - 0.05 <= s["start"]
                 and s["end"] <= spans[s["parent"]]["end"] + 0.05)
    ]
    check(not bad, f"{workload}: every Spark job lies inside its build or "
                   f"execute span (outside: jobs {bad})")
    slots = cov["task_slots"]
    for op, r in tr["report"]["op_layers"].items():
        check(r["task_run_s"] <= slots * r["job_s"] * 1.1 + 0.05,
              f"{workload}: {op} task run time fits its jobs "
              f"({r['task_run_s']:.3f} <= {slots} x {r['job_s']:.3f} s)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in sys.argv[1:] or list(CASES):
        selftest(w, spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
