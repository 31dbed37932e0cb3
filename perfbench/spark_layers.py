"""Outside-in Spark layer collector.

Each timed draw runs under its own job group (a local property, so
setting it launches no job). After the draw, the collector reads the
group's jobs and their stages from Spark's status store, which is kept
with the UI disabled, and turns them into spans and per-stage task
metrics. Nothing in the program under test is changed or wrapped.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from common import union_s


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None  # index into the owning span list
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return max(0.0, self.end - self.start)


@dataclass
class Draw:
    """One timed op: build (the query callable) then execute (collect)."""

    op: str
    start: float
    build_end: float
    end: float
    group: str
    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def build_s(self) -> float:
        return self.build_end - self.start

    @property
    def execute_s(self) -> float:
        return self.end - self.build_end

    def build_jobs(self) -> list[dict]:
        return [j for j in self.jobs if j["t0"] < self.build_end]

    def execute_covered_s(self) -> float:
        """Seconds of the execute window covered by at least one job."""
        return union_s([(j["t0"], j["t1"]) for j in self.jobs], self.build_end, self.end)

    def offjob_s(self) -> float:
        return max(0.0, self.execute_s - self.execute_covered_s())


class SparkCollector:
    """Job-group tagging plus status-store reads over py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper.registerModule(scala_mod)
        self._seq = 0

    def _json(self, obj) -> object:
        return json.loads(self._mapper.writeValueAsString(obj))

    def new_group(self, op: str) -> str:
        self._seq += 1
        group = f"perfbench-{self._seq}-{op}"
        self.sc.setJobGroup(group, op)
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def run(self, op: str, build, execute, trace: bool) -> tuple[Draw, object]:
        """Time ``build()`` then ``execute(built)`` under a fresh group.
        With ``trace``, attach the group's jobs and stages afterwards
        (outside the timed region)."""
        group = self.new_group(op)
        try:
            t0 = time.time()
            built = build()
            t1 = time.time()
            out = execute(built)
            t2 = time.time()
        finally:
            self.clear_group()
        draw = Draw(op, t0, t1, t2, group)
        if trace:
            self.attach(draw)
        return draw, out

    def attach(self, draw: Draw) -> None:
        """Attach the jobs of the draw's group and their stages."""
        tracker = self.sc.statusTracker()
        # the group is finished, but a job's completion can land in the
        # status store a moment after the action returns
        for _ in range(50):
            jobs = [self._job(j) for j in sorted(tracker.getJobIdsForGroup(draw.group))]
            if all(j is not None and j["t1"] is not None for j in jobs):
                break
            time.sleep(0.01)
        self._set_jobs(draw, jobs)

    def attach_window(self, draw: Draw) -> None:
        """Attach every job submitted inside the draw's window, whatever
        its group (a streaming query runs its batches on its own thread,
        outside the caller's job group). Exact when nothing else submits
        jobs meanwhile."""
        ids = [
            j["jobId"] for j in self._json(self._store.jobsList(None))
            if j.get("submissionTime")
            and draw.start <= j["submissionTime"] / 1000.0 <= draw.end
        ]
        self._set_jobs(draw, [self._job(j) for j in sorted(ids)])

    def _set_jobs(self, draw: Draw, jobs: list) -> None:
        draw.jobs = [j for j in jobs if j is not None]
        for j in draw.jobs:
            if j["t1"] is None:
                j["t1"] = draw.end
        stage_ids = sorted({s for j in draw.jobs for s in j["stageIds"]})
        draw.stages = [s for s in (self._stage(s) for s in stage_ids) if s]

    def _job(self, job_id: int) -> dict | None:
        try:
            d = self._json(self._store.job(job_id))
        except Exception:  # noqa: BLE001 — evicted from the store
            return None
        sub, comp = d.get("submissionTime"), d.get("completionTime")
        return {
            "jobId": d["jobId"],
            "stageIds": d.get("stageIds", []),
            "status": d.get("status"),
            "t0": sub / 1000.0 if sub else None,
            "t1": comp / 1000.0 if comp else None,
        }

    def _stage(self, stage_id: int) -> dict | None:
        try:
            attempts = self._json(
                self._store.stageData(stage_id, False, None, False, None)
            )
        except Exception:  # noqa: BLE001 — evicted from the store
            return None
        out = {
            "stageId": stage_id, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_read_b": 0, "shuffle_write_b": 0,
            "input_b": 0, "skipped": True,
        }
        for a in attempts:
            if a.get("status") == "SKIPPED":
                continue
            out["skipped"] = False
            out["tasks"] += a.get("numCompleteTasks", 0) + a.get("numFailedTasks", 0)
            out["run_s"] += a.get("executorRunTime", 0) / 1000.0
            out["cpu_s"] += a.get("executorCpuTime", 0) / 1e9
            out["gc_s"] += a.get("jvmGcTime", 0) / 1000.0
            out["shuffle_read_b"] += a.get("shuffleReadBytes", 0)
            out["shuffle_write_b"] += a.get("shuffleWriteBytes", 0)
            out["input_b"] += a.get("inputBytes", 0)
        return out


def draw_layers(d: Draw) -> dict[str, float]:
    """Per-draw layer numbers (the traced run's raw record)."""
    st = [s for s in d.stages if not s["skipped"]]
    run = sum(s["run_s"] for s in st)
    cpu = sum(s["cpu_s"] for s in st)
    return {
        "wall_s": d.wall_s,
        "build_s": d.build_s,
        "execute_s": d.execute_s,
        "offjob_s": d.offjob_s(),
        "job_covered_s": d.execute_covered_s(),
        "job_s": union_s([(j["t0"], j["t1"]) for j in d.jobs], d.start, d.end),
        "jobs": len(d.jobs),
        "build_jobs": len(d.build_jobs()),
        "stages": len(st),
        "tasks": sum(s["tasks"] for s in st),
        "task_run_s": run,
        "task_cpu_s": cpu,
        "gc_s": sum(s["gc_s"] for s in st),
        "task_offcpu_s": max(0.0, run - cpu),
        "shuffle_read_mb": sum(s["shuffle_read_b"] for s in st) / 1e6,
        "shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / 1e6,
        "input_mb": sum(s["input_b"] for s in st) / 1e6,
    }


def draw_spans(d: Draw, spans: list[Span], parent: int | None) -> None:
    """op -> build / execute -> Spark job, appended to ``spans``."""
    op_i = len(spans)
    spans.append(Span(f"op.{d.op}", d.start, d.end, parent))
    b_i = len(spans)
    spans.append(Span("driver.build", d.start, d.build_end, op_i))
    e_i = len(spans)
    spans.append(Span("driver.execute", d.build_end, d.end, op_i))
    for j in d.jobs:
        spans.append(
            Span(
                "spark.job",
                j["t0"],
                j["t1"],
                b_i if j["t0"] < d.build_end else e_i,
                {"jobId": j["jobId"], "stages": len(j["stageIds"])},
            )
        )
