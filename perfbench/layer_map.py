"""Which workload records each per-layer metric of BENCHMARK.json, and
which end-to-end metric it should move there.

BENCHMARK.json entries carry only ``name``, ``unit`` and ``better``, so
the mapping lives here. run.py refuses a traced run whose recorded
layers differ from this map, and prints the mapping with the values.
"""

from __future__ import annotations

LAKE, CORPUS, FS = "lake_queries", "corpus_prep", "fs_serve_live"
SPARK = (LAKE, CORPUS)

FOLD = "commit_visible_s on fs_serve_live (the writer's folds)"

# name -> (workloads that record it, what it should move); the per-op
# metrics ``op.<name>.*`` are the lake's ops (see ``where``)
LAYERS: dict[str, tuple[tuple[str, ...], str]] = {
    "driver.build_s": (SPARK, "pass_s on lake_queries (F1, L3, Q5) and corpus_prep (D1)"),
    "spark.build_jobs": (SPARK, "pass_s on lake_queries (F1, L3, Q5) and corpus_prep (D1)"),
    "driver.execute_s": (SPARK, "pass_s and first_pass_s on lake_queries"),
    "driver.offjob_s": (SPARK, "pass_s and first_pass_s on lake_queries"),
    "spark.jobs": (SPARK + (FS,), "pass_s and first_pass_s on lake_queries; " + FOLD),
    "spark.stages": (SPARK + (FS,), "pass_s and first_pass_s on lake_queries; " + FOLD),
    **{
        name: (SPARK + (FS,), "pass_s on corpus_prep (M2, T1/T2, S1); " + FOLD)
        for name in ("spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
                     "spark.gc_s", "spark.task_offcpu_s")
    },
    **{
        name: (SPARK + (FS,), "pass_s on lake_queries and corpus_prep; " + FOLD)
        for name in ("spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.input_mb")
    },
    "sources.sparse.chunks_fetched": ((LAKE,), "pass_s on lake_queries (X1)"),
    "sources.sparse.bytes_fetched": ((LAKE,), "pass_s on lake_queries (X1)"),
    "sources.sparse.warm_remote_bytes": ((LAKE,), "pass_s on lake_queries (X2; must be 0)"),
    "sources.remote.fetch_ms_p50": ((LAKE,), "pass_s on lake_queries (X1)"),
    "serving.handle_ms_p50": ((FS,), "op_p50_ms and ops_per_s on fs_serve_live"),
    "serving.handle_ms_p99": ((FS,), "op_p50_ms and ops_per_s on fs_serve_live"),
    "transport.overhead_ms_p50": ((FS,), "op_p50_ms and ops_per_s on fs_serve_live"),
    **{
        f"serving.cache.{k}": ((FS,), "op_p99_ms on fs_serve_live")
        for k in ("lookups", "hits", "decodes", "point_reads", "patches",
                  "admissions", "evictions", "hit_ratio")
    },
    "sources.cas.read_ms_p50": ((FS,), "read_p50_ms on fs_serve_live"),
    **{
        name: ((FS,), "commit_visible_s (and op_p99_ms through fold "
                      "interference) on fs_serve_live")
        for name in ("catalog.commitlog.commit_s_p50", "streaming.mirror.fold_s_p50",
                     "streaming.mirror.folds", "serving.staleness_versions_max")
    },
    "getattr_p50_ms": ((FS,), "op_p50_ms on fs_serve_live"),
    "list_p50_ms": ((FS,), "op_p50_ms on fs_serve_live"),
    "read_p50_ms": ((FS,), "op_p50_ms on fs_serve_live"),
    "commit_visible_s": ((FS,), "pass_s on fs_serve_live"),
    "session.start_s": (SPARK + (FS,), "setup_s on every workload"),
    "tables.fs_memo_s": ((LAKE,), "setup_s on lake_queries"),
}


def where(name: str) -> tuple[tuple[str, ...], str]:
    if name.startswith("op."):
        return (LAKE,), "pass_s on lake_queries"
    return LAYERS[name]


def expected(workload: str, names) -> set[str]:
    """The per-layer metrics among ``names`` that ``workload`` records."""
    return {n for n in names if workload in where(n)[0]}
