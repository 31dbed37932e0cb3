"""The two Spark workloads: ``lake_queries`` and ``corpus_prep``.

Both run a closed loop of passes over a fixed op list on one driver:
the first pass after set-up, then steady passes. Every draw runs under
its own job group; every result is checked outside the timed region
(registry ops against their DuckDB ``oracle_sql()``, byte ops against
the generated bytes). In a traced run the first pass is traced and the
steady passes alternate untraced / traced, so tracing overhead is the
traced minus the untraced pass time of the same run.
"""

from __future__ import annotations

import functools
import glob
import math
import os
import shutil
import statistics
import time

import pandas as pd

from common import RunRecord, corrupt_frame, median, self_times, union_s
from spark_layers import SparkCollector, Span, draw_layers, draw_spans
from tools.verify_oracle import compare  # the repo's oracle gate rule

# One op per lake layer (catalog listing, Merkle freeze, interval mask,
# relational joins); the rest of the registry is left to bench.py so a
# run fits the benchmark's time budget.
LAKE_REGISTRY = [
    "L3_extended_listing",
    "F1_merkle_freeze",
    "R1_missing_regions",
    "Q5_local_supplier",
]
LAKE_BYTES = ["X1_cold_fetch", "X2_warm_read", "X3_pufs_scan"]
CORPUS_REGISTRY = [
    "U1_exact_dedup",
    "D1_minhash_lsh_neardup",
    "T1_token_quality",
    "T2_lang_id",
    "S1_cosine_topk",
    "M2_media_features",
    "T13_dedup_paragraphs",
    "T14_pack_sequences",
]

# The package module each op mainly exercises; a traced run charges the
# op's driver-side self time to it (Spark job time goes to spark.*).
OP_MODULE = {
    "L3_extended_listing": "catalog.queries",
    "F1_merkle_freeze": "plans.merkle",
    "R1_missing_regions": "operators.intervals",
    "Q5_local_supplier": "tables",
    "X1_cold_fetch": "sources.sparse",
    "X2_warm_read": "sources.sparse",
    "X3_pufs_scan": "sources.datasource",
    "U1_exact_dedup": "operators.dedup",
    "D1_minhash_lsh_neardup": "operators.dedup",
    "T1_token_quality": "operators.text",
    "T2_lang_id": "operators.text",
    "S1_cosine_topk": "operators.similarity",
    "M2_media_features": "operators.multimodal",
    "T13_dedup_paragraphs": "operators.dedup",
    "T14_pack_sequences": "operators.pipeline",
}

PASS_LAYERS = [
    "build_s", "build_jobs", "execute_s", "jobs", "stages", "offjob_s",
    "tasks", "task_run_s", "task_cpu_s", "gc_s", "task_offcpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "input_mb",
]
LAYER_NAME = {
    "build_s": ("driver.build_s", "s"),
    "build_jobs": ("spark.build_jobs", "count"),
    "execute_s": ("driver.execute_s", "s"),
    "jobs": ("spark.jobs", "count"),
    "stages": ("spark.stages", "count"),
    "offjob_s": ("driver.offjob_s", "s"),
    "tasks": ("spark.tasks", "count"),
    "task_run_s": ("spark.task_run_s", "s"),
    "task_cpu_s": ("spark.task_cpu_s", "s"),
    "gc_s": ("spark.gc_s", "s"),
    "task_offcpu_s": ("spark.task_offcpu_s", "s"),
    "shuffle_read_mb": ("spark.shuffle_read_mb", "MB"),
    "shuffle_write_mb": ("spark.shuffle_write_mb", "MB"),
    "input_mb": ("spark.input_mb", "MB"),
}

# The lake runs at the oracle gate's scale: its ops are bound by driver
# construction and the job floor, not data volume, and sf0.1 would not
# fit a run into the benchmark's time budget.
LAKE_SF = 0.01


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def _oracle_frames(sf_dir: str, ops: list[str]) -> dict[str, pd.DataFrame]:
    import duckdb

    import __spark_entry__ as entrymod
    from pufs_spark.tables import TPCH_TABLES

    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in TPCH_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    sql = entrymod.oracle_sql()
    return {op: con.sql(sql[op]).df() for op in ops}


def prepare_tables(data_root: str, sf: float, seed: int,
                   ops: list[str]) -> tuple[str, dict[str, pd.DataFrame]]:
    """Generate (or reuse) the seeded tables and the oracle answers for
    ``ops``. Cached per (sf, seed) under ``data_root``; the newest few
    seeds are kept."""
    import datagen

    sf_dir = os.path.join(data_root, f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(sf_dir, "_done")):
        tmp = sf_dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, sf, seed)
        with open(os.path.join(tmp, "_done"), "w"):
            pass
        shutil.rmtree(sf_dir, ignore_errors=True)
        os.rename(tmp, sf_dir)
    odir = os.path.join(sf_dir, "_oracle")
    os.makedirs(odir, exist_ok=True)
    missing = [o for o in ops if not os.path.exists(os.path.join(odir, o + ".pkl"))]
    if missing:
        for op, df in _oracle_frames(sf_dir, missing).items():
            df.to_pickle(os.path.join(odir, op + ".pkl"))
    oracles = {op: pd.read_pickle(os.path.join(odir, op + ".pkl")) for op in ops}
    for old in sorted(
        glob.glob(os.path.join(data_root, "sf*-seed*")), key=os.path.getmtime
    )[:-4]:
        if old != sf_dir:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(sf_dir)
    return sf_dir, oracles


class LakeBytes:
    """Seeded blocks in a ``LocalDirRemote`` (X1/X2) and a frozen
    subtree exported for the ``pufs`` scan (X3)."""

    def __init__(self, work: str, seed: int, tiny: bool):
        import datagen
        from pufs_spark.catalog.datastore import ROOT_INODE, DataStore
        from pufs_spark.sources.remote import LocalDirRemote

        self.work = work
        self.fetch = datagen.fetch_set(seed, 2, 3)
        self.remote_root = os.path.join(work, "remote")
        remote = LocalDirRemote(self.remote_root)
        for bid, data in self.fetch.blocks.items():
            remote.put_block_if_absent(bid, data)
        self.files = datagen.subtree_files(seed, 2 if tiny else 8, 4 if tiny else 16)
        ds = DataStore(os.path.join(work, "lakestore"))
        dirs: dict[str, int] = {}
        for path, data in self.files.items():
            parent = ROOT_INODE
            parts = path.strip("/").split("/")
            for k in range(len(parts) - 1):
                key = "/".join(parts[: k + 1])
                if key not in dirs:
                    dirs[key] = ds.mkdir(parent, parts[k])
                parent = dirs[key]
            ds.add_immutable_bytes(parent, parts[-1], data)
        ds.freeze()
        self.catalog = os.path.join(work, "lake_catalog.parquet")
        ds.export_catalog(self.catalog)
        self.cas = ds.freezer.chunks_dir
        self.n_cache = 0

    def remote_factory(self):
        from pufs_spark.sources.remote import LocalDirRemote

        return functools.partial(LocalDirRemote, self.remote_root)

    def fresh_cache_root(self) -> str:
        for old in glob.glob(os.path.join(self.work, "cache-*")):
            shutil.rmtree(old, ignore_errors=True)
        self.n_cache += 1
        return os.path.join(self.work, f"cache-{self.n_cache}")

    def expected_chunks(self, chunk: int) -> int:
        return len({
            (bid, c)
            for bid, s, e in self.fetch.ranges
            for c in range(s // chunk, -(-e // chunk))
        })


def transfer_totals(cache_root: str) -> tuple[int, list[float]]:
    """(bytes, per-fetch latencies) from the cache's transfer log."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(cache_root, "transfers", "*.parquet"))
    if not files:
        return 0, []
    t = pq.ParquetDataset(files).read(columns=["bytes", "latency_ms"])
    return int(sum(t.column("bytes").to_pylist())), t.column("latency_ms").to_pylist()


# ---------------------------------------------------------------------------
# The loop
# ---------------------------------------------------------------------------


class SparkWorkload:
    def __init__(self, name: str, args, work: str, data_root: str, spark_conf):
        self.name = name
        self.args = args
        self.work = work
        self.tiny = args.scale == "tiny"
        self.sf = 0.001 if self.tiny else LAKE_SF if name == "lake_queries" else 0.1
        self.lake = name == "lake_queries"
        self.registry = LAKE_REGISTRY if self.lake else CORPUS_REGISTRY
        self.ops = self.registry + (LAKE_BYTES if self.lake else [])
        self.data_root = data_root
        self.spark_conf = spark_conf
        self.corrupt = set(args.corrupt or [])
        self.rec = RunRecord()

    # -- set-up ------------------------------------------------------------

    def setup(self) -> object:
        """Session start, plus the fs-memo persist for the lake: the
        time until the first op can run. Measured once per run: the JVM
        launches once per process, so a repeat would time a different,
        warm set-up."""
        import __spark_entry__ as entrymod
        from pufs_spark.session import get_spark
        from pufs_spark.sources.datasource import PufsDataSource

        input_bytes = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(self.sf_dir, "*.parquet"))
        )
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench_{self.name}", cpus=4,
            input_bytes=input_bytes, extra_conf=self.spark_conf,
        )
        t1 = time.perf_counter()
        if self.lake:
            spark.dataSource.register(PufsDataSource)
            entrymod._fs_nodes(spark, self.sf_dir).count()
            entrymod._fs_regions(spark, self.sf_dir).count()
        t2 = time.perf_counter()
        self.rec.e2e["setup_s"] = (t2 - t0, "s")
        self.rec.layers["session.start_s"] = (t1 - t0, "s")
        if self.lake:
            self.rec.layers["tables.fs_memo_s"] = (t2 - t1, "s")
        return spark

    # -- ops -----------------------------------------------------------------

    def _op_fns(self, spark, op: str):
        """(build, execute) for one op."""
        if op in self.registry:
            fn = self.qs[op]
            return (lambda: fn(spark, self.sf_dir)), (lambda df: df.toPandas())
        from pufs_spark.sources import sparse

        lb = self.bytes
        if op == "X1_cold_fetch":
            root = lb.fresh_cache_root()
            self._cache_root = root

            def build():
                return spark.createDataFrame(
                    lb.fetch.ranges, "bid string, qstart long, qend long"
                )

            def execute(req):
                return sparse.ensure_cached(
                    spark, root, lb.remote_factory(), req, readahead=0
                )

            return build, execute
        if op == "X2_warm_read":
            root = self._cache_root
            self._cold_bytes = transfer_totals(root)[0]

            def execute(_):
                return [
                    sparse.read_through(
                        spark, root, lb.remote_factory(), bid, s, e - s, readahead=0
                    )
                    for bid, s, e in lb.fetch.ranges
                ]

            return (lambda: None), execute
        if op == "X3_pufs_scan":
            def build():
                return (
                    spark.read.format("pufs")
                    .option("catalog", lb.catalog)
                    .option("cas", lb.cas)
                    .option("path", "/lake")
                    .option("content", "true")
                    .load()
                )

            return build, (lambda df: df.toPandas())
        raise KeyError(op)

    def _check(self, op: str, out) -> str | None:
        if op in self.registry:
            return compare(out, self.oracles[op])
        from pufs_spark.sources import sparse

        lb = self.bytes
        if op == "X1_cold_fetch":
            want = lb.expected_chunks(sparse.CHUNK_SIZE)
            if out["chunks_fetched"] != want:
                return f"chunks_fetched {out['chunks_fetched']} vs {want}"
            fz = sparse.SparseFreezer(self._cache_root)
            for bid, s, e in lb.fetch.ranges:
                if fz.read(bid, s, e - s) != lb.fetch.expected(bid, s, e):
                    return f"cached bytes differ for {bid}[{s}:{e}]"
            return None
        if op == "X2_warm_read":
            for got, (bid, s, e) in zip(out, lb.fetch.ranges):
                if got != lb.fetch.expected(bid, s, e):
                    return f"read_through bytes differ for {bid}[{s}:{e}]"
            if len(out) != len(lb.fetch.ranges):
                return f"{len(out)} reads for {len(lb.fetch.ranges)} ranges"
            warm = transfer_totals(self._cache_root)[0] - self._cold_bytes
            if warm:
                return f"warm read fetched {warm} remote bytes"
            return None
        if op == "X3_pufs_scan":
            got = {r.path: bytes(r.content) for r in out.itertuples()}
            if set(got) != set(lb.files):
                return f"{len(got)} paths vs {len(lb.files)}"
            bad = [p for p, b in lb.files.items() if got[p] != b]
            return f"content differs for {bad[0]}" if bad else None
        raise KeyError(op)

    def _corrupted(self, op: str, out):
        if op in self.registry or op == "X3_pufs_scan":
            return corrupt_frame(out)
        if op == "X1_cold_fetch":
            return {**out, "chunks_fetched": out["chunks_fetched"] + 1}
        return [b[:-1] for b in out]

    def run_pass(self, spark, col: SparkCollector, traced: bool) -> dict:
        """One pass over the op list. X1/X2 are checked right after they
        run (the check reads the cache they leave); the rest after the
        pass. Check time is left out of the pass wall."""
        draws, checks, sparse_stats = [], [], {}
        check_s, check_spans = 0.0, []
        t0 = time.perf_counter()
        for op in self.ops:
            self.rec.attempted += 1
            try:
                build, execute = self._op_fns(spark, op)
                draw, out = col.run(op, build, execute, traced)
            except Exception as exc:  # noqa: BLE001 — reported, not dropped
                self.rec.fail(op, f"raised {type(exc).__name__}: {exc}")
                continue
            if op in self.corrupt:
                out = self._corrupted(op, out)
            draws.append(draw)
            if op in ("X1_cold_fetch", "X2_warm_read"):
                c0, e0 = time.perf_counter(), time.time()
                if op == "X1_cold_fetch":
                    sparse_stats = dict(out)
                    sparse_stats["fetch_ms"] = transfer_totals(self._cache_root)[1]
                else:
                    sparse_stats["warm_remote_bytes"] = (
                        transfer_totals(self._cache_root)[0] - self._cold_bytes)
                checks.append((op, self._safe_check(op, out)))
                check_s += time.perf_counter() - c0
                check_spans.append((e0, time.time()))
            else:
                checks.append((op, functools.partial(self._safe_check, op, out)))
        wall = time.perf_counter() - t0 - check_s
        for op, why in checks:
            why = why() if callable(why) else why
            if why:
                self.rec.fail(op, why)
        return {"wall": wall, "draws": draws, "traced": traced, "sparse": sparse_stats,
                "check_spans": check_spans}

    def _safe_check(self, op, out) -> str | None:
        try:
            return self._check(op, out)
        except Exception as exc:  # noqa: BLE001
            return f"check raised {type(exc).__name__}: {exc}"

    # -- whole run -----------------------------------------------------------

    def run(self, holder: list) -> RunRecord:
        import __spark_entry__ as entrymod

        t_prep = time.perf_counter()
        self.sf_dir, self.oracles = prepare_tables(
            self.data_root, self.sf, self.args.seed, self.registry
        )
        if self.lake:
            self.bytes = LakeBytes(os.path.join(self.work, "lake"), self.args.seed, self.tiny)
        self.qs = entrymod.queries()
        self.rec.report["phase.inputs_s"] = round(time.perf_counter() - t_prep, 3)
        t_setup = time.perf_counter()
        spark = self.setup()
        self.rec.report["phase.setups_s"] = round(time.perf_counter() - t_setup, 3)
        t_passes = time.perf_counter()
        holder.append(spark)
        col = SparkCollector(spark)
        trace = bool(self.args.trace)
        # the first pass, then the steady passes that fit in --seconds: at
        # least one untraced one, and in a traced run a traced one between
        # two untraced ones (passes still speed up, so the overhead is
        # taken against both neighbours)
        passes = [self.run_pass(spark, col, trace)]
        min_steady = 3 if trace else 1
        deadline = time.perf_counter() + self.args.seconds
        while len(passes) <= min_steady or (
            time.perf_counter() + passes[-1]["wall"] <= deadline
        ):
            traced = trace and len(passes) % 2 == 0
            passes.append(self.run_pass(spark, col, traced))
        self.rec.report["phase.passes_s"] = round(time.perf_counter() - t_passes, 3)
        self.summarize(passes)
        return self.rec

    def summarize(self, passes: list[dict]) -> None:
        rec = self.rec
        first, steady = passes[0], passes[1:]
        plain = [p for p in steady if not p["traced"]]
        traced = [p for p in passes if p["traced"]]
        steady_traced = [p for p in steady if p["traced"]]
        # per-op best untraced steady draw: contention only ever slows a
        # draw, so the fastest is an op's spike-free time (bench.py's
        # value_min rule); pass_s sums them
        best: dict[str, float] = {}
        for p in plain:
            for d in p["draws"]:
                best[d.op] = min(best.get(d.op, d.wall_s), d.wall_s)
        rec.e2e["pass_s"] = (sum(best.values()), "s")
        rec.e2e["first_pass_s"] = (first["wall"], "s")
        # op_p50_ms and ops_per_s are the service's metrics; every
        # workload prints every gated metric, so here they mean: the
        # typical op latency, as the geometric mean of the per-op best
        # times (each op weighs the same, where pass_s weighs by length;
        # a plain median of seven unlike ops jumps between two of them),
        # and the throughput of the whole steady loop, contention included
        draws = [d for p in plain for d in p["draws"]]
        rec.e2e["op_p50_ms"] = (
            math.exp(statistics.fmean(math.log(v * 1000) for v in best.values())), "ms")
        rec.e2e["ops_per_s"] = (len(draws) / sum(p["wall"] for p in plain), "1/s")
        rec.report["op_samples"] = len(draws)
        rec.report["op_best_s"] = {op: round(v, 4) for op, v in best.items()}
        rec.report["passes"] = len(passes)
        rec.report["pass_walls_s"] = [round(p["wall"], 4) for p in passes]
        if steady_traced:
            over = median(p["wall"] for p in steady_traced) - median(p["wall"] for p in plain)
            rec.report["tracing_overhead.pass_s"] = round(over, 4)
        if not traced:
            return
        # per-pass layer sums over the steady traced passes (the first
        # pass when it is the only traced one)
        src = steady_traced or traced
        per_pass = []
        for p in src:
            tot = dict.fromkeys(PASS_LAYERS, 0.0)
            for d in p["draws"]:
                for k, v in draw_layers(d).items():
                    if k in tot:
                        tot[k] += v
            per_pass.append(tot)
        for k in PASS_LAYERS:
            name, unit = LAYER_NAME[k]
            rec.layers[name] = (median(t[k] for t in per_pass), unit)
        # per-op medians
        by_op: dict[str, list] = {}
        for p in src:
            for d in p["draws"]:
                by_op.setdefault(d.op, []).append(draw_layers(d))
        for op, rows in by_op.items():
            rec.layers[f"op.{op}.wall_s"] = (median(r["wall_s"] for r in rows), "s")
            rec.layers[f"op.{op}.build_s"] = (median(r["build_s"] for r in rows), "s")
            rec.layers[f"op.{op}.jobs"] = (median(r["jobs"] for r in rows), "count")
        rec.report["op_layers"] = {
            op: {k: round(median(r[k] for r in rows), 4) for k in rows[0]}
            for op, rows in by_op.items()
        }
        rec.report["first_pass_layers"] = {
            k: round(sum(draw_layers(d)[k] for d in first["draws"]), 4)
            for k in PASS_LAYERS
        } if first["traced"] else None
        if self.lake:
            sp = [p["sparse"] for p in passes if p["sparse"]]
            rec.layers["sources.sparse.chunks_fetched"] = (
                median(s["chunks_fetched"] for s in sp), "count")
            rec.layers["sources.sparse.bytes_fetched"] = (
                median(s["bytes_fetched"] for s in sp), "bytes")
            rec.layers["sources.remote.fetch_ms_p50"] = (
                median(x for s in sp for x in s["fetch_ms"]), "ms")
            rec.layers["sources.sparse.warm_remote_bytes"] = (
                max(s.get("warm_remote_bytes", 0) for s in sp), "bytes")
        # spans: pass -> op -> build/execute -> job, and the in-pass
        # checks of X1/X2 (left out of the pass wall)
        spans: list[Span] = []
        for k, p in enumerate(src):
            start = min(d.start for d in p["draws"])
            end = max(d.end for d in p["draws"])
            pi = len(spans)
            spans.append(Span(f"pass{k}", start, end, None))
            for d in p["draws"]:
                draw_spans(d, spans, pi)
            for a, b in p["check_spans"]:
                spans.append(Span("perfbench.check", a, b, pi))
        rec.spans = spans
        # per-pass self time by layer: each op's driver-side time goes to
        # its package module, the union of its Spark jobs to spark.jobs,
        # and the gaps between ops to the harness
        layer_self: dict[str, float] = {}
        for s_i, s in enumerate(spans):
            if s.name.startswith("op."):
                own = driver_self_s(spans, s_i)
                mod = OP_MODULE[s.name[3:]]
                layer_self[mod] = layer_self.get(mod, 0.0) + own
                layer_self["spark.jobs"] = layer_self.get("spark.jobs", 0.0) + s.dur - own
        st = self_times(spans)
        layer_self["perfbench.harness"] = sum(
            v for k, v in st.items() if k.startswith("pass"))
        rec.report["layer_self_s_per_pass"] = {
            k: round(v / len(src), 4) for k, v in sorted(layer_self.items())
        }
        # the layers, timed on the span clock, against the same passes'
        # wall on the loop's own clock: they agree when the spans tile
        # each pass with nothing lost or counted twice
        rec.report["coverage"] = {
            "pass_wall_s": round(sum(p["wall"] for p in src) / len(src), 4),
            "layer_sum_s": round(sum(layer_self.values()) / len(src), 4),
            "task_slots": int(os.environ.get("SPARK_GRAFT_CPUS", "4")),
        }


def driver_self_s(spans, op_i: int) -> float:
    """Driver-side time of one op span: its wall minus the union of the
    Spark jobs under its build and execute children."""
    op = spans[op_i]
    kids = {i for i, s in enumerate(spans) if s.parent == op_i}
    jobs = [(s.start, s.end) for s in spans if s.parent in kids]
    return op.dur - union_s(jobs, op.start, op.end)
