"""``fs_serve_live``: the POSIX-client path with a writer beside the readers.

Set-up (timed as ``setup_s``): Spark session start, the initial
``streaming.mirror`` fold of a seeded ~100k-inode catalog committed
through ``commitlog``, and a one-process ``serve_mirror_fleet`` with a
CAS factory and a mirror cache capped at half the decoded catalog.

Load: one generator process runs three closed-loop ``PufsClient``
threads (~75% getattr, 15% get_dir_contents, 10% ranged read of
4 KB-1 MB). Paths are zipf-skewed over files: a seeded permutation
ranks every file, getattr asks for a drawn file and a listing for the
drawn file's directory. The mirror buckets a file by md5 of its
directory and name, so the few buckets that hold the top-ranked files
take most getattrs and can stay resident in the capped cache while
the rest decode or point-read (the run reports the cache's hit ratio,
admissions and evictions). Latency and throughput are measured over
``--seconds`` after an unmeasured warm-up of the same traffic, as
medians over the window's whole seconds.
Meanwhile the benchmark's main process is the writer: commit one small
file, fold, wait until the service answers at the new
``mirrorVersion``, repeat. A writer cycle is this workload's pass.

Checks: getattr answers match the generated catalog; a listing holds
every pre-run name and exactly the live names committed at or before
the answer's ``mirrorVersion``; ranged reads match the generated bytes.

Tracing: the service child wraps ``MirrorService.handle`` and the CAS
read (in the child only; no program file changes), and in a traced run
every other request asks for those spans, so tracing overhead is the
traced minus the untraced request latency of the same run.
"""

from __future__ import annotations

import base64
import functools
import math
import os
import threading
import time
from typing import NamedTuple

import numpy as np

from common import RunRecord, median, pct
from spark_layers import SparkCollector, Span, draw_layers

class Sample(NamedTuple):
    """One client request as the generator saw it."""

    op: str
    t0: float
    t1: float
    version: int  # the answer's mirrorVersion (-1 when none)
    error: str | None  # why the answer is wrong, None when right
    spans: list | None  # [handle start, end, cas [start, end] | None]
    traced: bool
    path: str
    live: tuple = ()  # live names in a listing, checked in summarize()

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000


N_CLIENTS = 3
MIX = (("getattr", 0.75), ("list", 0.15), ("read", 0.10))
READ_MIN, READ_MAX = 4 << 10, 1 << 20
TIMEOUT_S = 10.0
# the clients' first seconds are unmeasured: the capped cache admits
# its buckets and the writer's folds get cheaper as the JVM warms, so
# throughput climbs for about the first 7 s of the load
WARMUP_S = 8.0
N_WINDOWS = 5


def live_name(k: int) -> str:
    return f"live{k:06d}"


def live_bytes(k: int) -> bytes:
    return f"live file {k}\n".encode() * 4


def live_dir(k: int, n_top: int) -> int:
    return (k * 7) % n_top


# ---------------------------------------------------------------------------
# Service child: CAS factory that also installs the tracing wrapper
# ---------------------------------------------------------------------------


def make_cas(cas_dir: str, trace: bool):
    """The fleet worker's CAS (``cas_dir`` is a ``Freezer`` root). Runs
    inside the worker before its MirrorService exists; with ``trace`` it
    also wraps ``MirrorService.handle`` and the CAS read there."""
    from pufs_spark import serving
    from pufs_spark.sources.cas import Freezer

    fz = Freezer(cas_dir)
    if not trace:
        return fz
    local = threading.local()
    inner = serving.MirrorService.handle

    def handle(self, req):
        local.cas = None
        t0 = time.time()
        resp = inner(self, req)
        if req.get("trace"):
            resp["_trace"] = [t0, time.time(), local.cas]
        return resp

    serving.MirrorService.handle = handle

    class TimedCas:
        def read(self, bid, offset=0, length=None):
            t0 = time.time()
            data = fz.read(bid, offset=offset, length=length)
            local.cas = [t0, time.time()]
            return data

        def __getattr__(self, name):
            return getattr(fz, name)

    return TimedCas()


# ---------------------------------------------------------------------------
# Load generator (one process, three client threads)
# ---------------------------------------------------------------------------


def client_main(seed: int, n_inodes: int, n_big: int, seconds: float,
                trace: bool, corrupt: list, ready, start_q, q) -> None:
    """Runs in its own process so the clients share no interpreter with
    the service or the writer. Loads while the main process builds the
    catalog and sets ``ready``; starts the ``seconds`` window when the
    service's port arrives on ``start_q`` (None: give up), runs
    ``WARMUP_S`` unmeasured seconds and then the measured window, and
    puts one result dict on ``q``."""
    import datagen
    from pufs_spark import serving

    cat = datagen.serve_catalog(seed, n_inodes, n_big)
    big = sorted(cat.big)
    # zipf rank -> file index (dir * n_files + file), the same for every
    # client: the hot files are shared, as in a real working set
    ranked = np.random.default_rng([seed, 6]).permutation(cat.n_top * cat.n_files)
    zf = _zipf_cdf(len(ranked))
    results: list[list] = [[] for _ in range(N_CLIENTS)]
    ready.set()
    port = start_q.get()
    if port is None:
        return
    measure_from = time.time() + WARMUP_S
    stop_at = measure_from + seconds

    def worker(ci: int) -> None:
        rng = np.random.default_rng([seed, 10 + ci])
        zb = _zipf_cdf(len(big))
        c = serving.PufsClient("127.0.0.1", port, timeout=TIMEOUT_S)
        out = results[ci]
        n = 0
        while time.time() < stop_at:
            r = rng.random()
            traced = trace and n % 2 == 1
            n += 1
            extra = {"trace": 1} if traced else {}
            if r < MIX[0][1]:
                i, j = divmod(int(ranked[_draw(rng, zf)]), cat.n_files)
                op, req = "getattr", {"op": "getattr", "path": cat.file_path(i, j)}
            elif r < MIX[0][1] + MIX[1][1]:
                i = int(ranked[_draw(rng, zf)]) // cat.n_files
                op, req = "list", {"op": "get_dir_contents", "path": cat.dir_path(i)}
            else:
                path = big[_draw(rng, zb)]
                size = len(cat.big[path])
                length = int(math.exp(rng.uniform(math.log(READ_MIN), math.log(READ_MAX))))
                off = int(rng.integers(0, size - length))
                op, req = "read", {"op": "read", "path": path, "offset": off,
                                   "length": length}
            t0 = time.time()
            try:
                resp = c.call(**req, **extra)
            except (OSError, TimeoutError, ValueError) as exc:
                t1 = time.time()
                out.append(Sample(op, t0, t1, -1, type(exc).__name__, None,
                                  traced, req["path"]))
                try:
                    c.close()
                except OSError:
                    pass
                c = serving.PufsClient("127.0.0.1", port, timeout=TIMEOUT_S)
                continue
            t1 = time.time()
            if op in corrupt:
                resp = _corrupt(resp)
            why, live = _check(cat, op, req, resp)
            out.append(Sample(op, t0, t1, resp.get("mirrorVersion", -1), why,
                              resp.get("_trace"), traced, req["path"], live))
        c.close()

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(N_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    q.put({"samples": [s for r in results for s in r], "measure_from": measure_from})


def _zipf_cdf(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w) / w.sum()


def _draw(rng, cdf: np.ndarray) -> int:
    return min(int(np.searchsorted(cdf, rng.random())), len(cdf) - 1)


def _corrupt(resp: dict) -> dict:
    resp = dict(resp)
    if "size" in resp:
        resp["size"] += 1
    if "entries" in resp:
        resp["entries"] = resp["entries"][1:]
    if "data" in resp:
        resp["n"] = resp.get("n", 0) + 1
    return resp


def _check(cat, op: str, req: dict, resp: dict) -> tuple[str | None, tuple]:
    """(why the answer is wrong or None, live names of a listing). A
    listing's live names are checked in summarize(), which knows the
    commit timeline."""
    if resp.get("errorMsg"):
        return f"errorMsg {resp['errorMsg']}", ()
    if op == "getattr":
        _, d, f = req["path"].split("/")
        size, bid = cat.attr(int(d[3:]), int(f[1:]))
        if resp.get("size") != size or resp.get("blockId") != bid or resp.get("isDir"):
            return f"getattr {req['path']} wrong: {resp.get('size')} {resp.get('blockId')}", ()
        return None, ()
    if op == "read":
        want = cat.big[req["path"]][req["offset"]: req["offset"] + req["length"]]
        got = base64.b64decode(resp.get("data", ""))
        if got != want or resp.get("n") != len(want):
            return f"read {req['path']}@{req['offset']}+{req['length']} bytes differ", ()
        return None, ()
    names = [e["name"] for e in resp.get("entries", [])]
    pre = cat.file_names()
    missing = pre - set(names)
    if missing:
        return f"listing {req['path']} lacks {len(missing)} pre-run names", ()
    return None, tuple(sorted(n for n in names if n not in pre))


# ---------------------------------------------------------------------------
# The workload
# ---------------------------------------------------------------------------


class FsServeLive:
    def __init__(self, args, work: str, spark_conf: dict):
        self.args = args
        self.work = work
        self.spark_conf = spark_conf
        self.tiny = args.scale == "tiny"
        self.n_inodes = 2_000 if self.tiny else 100_000
        self.n_big = 4 if self.tiny else 16
        self.corrupt = list(args.corrupt or [])
        self.rec = RunRecord()

    def build_catalog(self):
        """The seeded catalog, committed through ``commitlog`` (input
        generation: not part of set-up)."""
        import datagen
        from pufs_spark.catalog import commitlog as CL
        from pufs_spark.catalog.datastore import ROOT_INODE

        self.cat = datagen.serve_catalog(self.args.seed, self.n_inodes, self.n_big)
        self.root = os.path.join(self.work, "catalog")
        w, log = CL.open_log(self.root)
        for i in range(self.cat.n_top):
            d = w.mkdir(ROOT_INODE, self.cat.dir_path(i)[1:])
            for j in range(self.cat.n_files):
                w.add_immutable_bytes(d, f"f{j:05d}", self.cat.content(i, j))
        b = w.mkdir(ROOT_INODE, "big")
        for path, data in sorted(self.cat.big.items()):
            w.add_immutable_bytes(b, path.rsplit("/", 1)[1], data)
        self.base_version = log.commit(w)
        self.w, self.log = w, log
        self.cas_root = w.freezer.root

    def run(self, holder: list) -> RunRecord:
        import multiprocessing as mp

        rec, args = self.rec, self.args
        tb = time.perf_counter()
        # the load generator loads its copy of the catalog while this
        # process commits the real one; it idles through set-up
        ctx = mp.get_context("spawn")
        q, ready, start_q = ctx.Queue(), ctx.Event(), ctx.Queue()
        gen = ctx.Process(
            target=client_main,
            args=(args.seed, self.n_inodes, self.n_big, args.seconds,
                  bool(args.trace), self.corrupt, ready, start_q, q),
        )
        gen.start()
        try:
            self.build_catalog()
            if not ready.wait(120):
                raise RuntimeError("load generator did not start")
            rec.report["phase.inputs_s"] = round(time.perf_counter() - tb, 3)
            return self._serve(holder, gen, q, start_q)
        finally:
            if gen.is_alive():
                start_q.put(None)
                gen.join(timeout=10)
                if gen.is_alive():
                    gen.terminate()
                    gen.join()

    def _serve(self, holder: list, gen, q, start_q) -> RunRecord:
        """Set-up, then the clients' window with the writer beside it."""
        from pufs_spark import serving
        from pufs_spark.session import get_spark
        from pufs_spark.streaming import mirror as M

        rec, args = self.rec, self.args
        trace = bool(args.trace)
        mdir = os.path.join(self.work, "mirror")
        ckpt = os.path.join(self.work, "ckpt")
        cap = self.n_inodes * serving.MirrorStore.EST_DECODED_BYTES_PER_ROW // 2

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench_fs_serve_live", cpus=4,
                          extra_conf=self.spark_conf)
        holder.append(spark)
        t1 = time.perf_counter()
        M.start_catalog_mirror(spark, self.root, mdir, ckpt).awaitTermination(600)
        t2 = time.perf_counter()
        fleet, port = serving.serve_mirror_fleet(
            mdir, n_procs=1, max_cache_bytes=cap, start_method="spawn",
            cas_factory=functools.partial(make_cas, self.cas_root, trace),
        )
        try:
            probe = serving.PufsClient("127.0.0.1", port, timeout=60)
            first = probe.call(op="getattr", path=self.cat.file_path(0, 0))
            t3 = time.perf_counter()
            if first.get("errorMsg"):
                raise RuntimeError(f"service not answering: {first['errorMsg']}")
            rec.e2e["setup_s"] = (t3 - t0, "s")
            rec.layers["session.start_s"] = (t1 - t0, "s")
            rec.report["setup.initial_fold_s"] = round(t2 - t1, 4)
            rec.report["setup.service_start_s"] = round(t3 - t2, 4)
            rec.report["cache_cap_bytes"] = cap
            rec.report["inodes"] = self.cat.n_inodes

            # the writer runs for the clients' window; the generator's
            # results are read only after it (a process that has put on
            # a queue exits only once the queue is drained)
            tw = time.perf_counter()
            start_q.put(port)
            cycles = self.writer(spark, probe, time.time() + WARMUP_S + args.seconds, trace)
            out = q.get(timeout=args.seconds + 120)
            gen.join(timeout=30)
            rec.report["phase.load_s"] = round(time.perf_counter() - tw, 3)
            stats = probe.call(op="cache_stats")
            probe.close()
        finally:
            fleet.stop()
        self.summarize(out["samples"], out["measure_from"], cycles, stats, trace)
        return rec

    def writer(self, spark, probe, until: float, trace: bool) -> list[dict]:
        """Commit one small file, fold, wait until the service answers at
        the new version; repeat while the clients run (at least twice)."""
        from pufs_spark.streaming import mirror as M

        col = SparkCollector(spark) if trace else None
        root, mdir = self.root, os.path.join(self.work, "mirror")
        ckpt = os.path.join(self.work, "ckpt")
        cycles = []
        k = 0
        while time.time() < until or len(cycles) < 2:
            self.rec.attempted += 1
            i = live_dir(k, self.cat.n_top)
            path = f"{self.cat.dir_path(i)}/{live_name(k)}"
            c0 = time.time()
            d = self.w.resolve_path(self.cat.dir_path(i))
            self.w.add_immutable_bytes(d, live_name(k), live_bytes(k))
            v = self.log.commit(self.w)
            c1 = time.time()
            fold = {}
            if col is not None:
                draw, _ = col.run(
                    "fold", lambda: None,
                    lambda _: M.start_catalog_mirror(spark, root, mdir, ckpt).awaitTermination(120),
                    False,
                )
                col.attach_window(draw)
                fold = draw_layers(draw)
                fold_jobs = draw.jobs
            else:
                M.start_catalog_mirror(spark, root, mdir, ckpt).awaitTermination(120)
                fold_jobs = []
            c2 = time.time()
            why = None
            while True:
                resp = probe.call(op="getattr", path=path)
                if resp.get("mirrorVersion", -1) >= v:
                    if resp.get("errorMsg") or resp.get("size") != len(live_bytes(k)):
                        why = f"live file {path} at v{v}: {resp}"
                    break
                if time.time() - c2 > 30:
                    why = f"v{v} not visible 30 s after its fold"
                    break
                time.sleep(0.002)
            c3 = time.time()
            if why:
                self.rec.fail("writer", why)
            cycles.append({"k": k, "version": v, "t0": c0, "commit_end": c1,
                           "fold_end": c2, "visible": c3, "fold": fold,
                           "fold_jobs": fold_jobs})
            k += 1
        return cycles

    def summarize(self, samples: list, measure_from: float, cycles: list[dict],
                  stats: dict, trace: bool) -> None:
        rec = self.rec
        # live-name check for listings: exactly the live files of that
        # dir committed at or before the answer's mirrorVersion
        live_at: dict[int, list] = {}
        for c in cycles:
            live_at.setdefault(live_dir(c["k"], self.cat.n_top), []).append(
                (c["version"], live_name(c["k"])))
        for x in samples:
            rec.attempted += 1
            if x.error:
                rec.fail(x.op, x.error)
            elif x.op == "list":
                names = live_at.get(int(x.path.rsplit("dir", 1)[1]), [])
                want = {n for ver, n in names if ver <= x.version}
                if set(x.live) != want:
                    rec.fail(x.op, f"listing {x.path} at v{x.version} has live "
                                   f"names {list(x.live)}, want {sorted(want)}")
        ok = [x for x in samples if x.error is None]
        # latency and throughput come from the requests sent after the
        # warm-up; every request is checked
        measured = [x for x in ok if x.t0 >= measure_from]
        plain = [x for x in measured if not x.traced]
        lat = [x.ms for x in plain]
        span = max(x.t1 for x in measured) - measure_from
        # completions per equal slice of the whole load, warm-up first
        lo = min(x.t0 for x in samples)
        width = (max(x.t1 for x in samples) - lo) / N_WINDOWS
        per_window = [0] * N_WINDOWS
        for x in ok:
            per_window[min(N_WINDOWS - 1, int((x.t1 - lo) / width))] += 1
        steady = cycles[1:]
        rec.e2e["pass_s"] = (median(c["visible"] - c["t0"] for c in steady), "s")
        rec.e2e["first_pass_s"] = (cycles[0]["visible"] - cycles[0]["t0"], "s")
        # the gated latency and throughput are medians over the whole
        # seconds of the window: a second or two slowed by contention
        # from outside the run (or by a fold) moves them less than it
        # moves the pooled median and the mean rate
        n_sec = max(1, int(span))
        lat_by_sec = [[] for _ in range(n_sec)]
        done_by_sec = [0] * n_sec
        for x in measured:
            k = int(x.t1 - measure_from)
            if k < n_sec:
                done_by_sec[k] += 1
                if not x.traced:
                    lat_by_sec[k].append(x.ms)
        rec.e2e["op_p50_ms"] = (median(median(v) for v in lat_by_sec if v), "ms")
        rec.e2e["ops_per_s"] = (median(done_by_sec), "1/s")
        rec.report["op_p50_pooled_ms"] = round(median(lat), 4)
        rec.report["ops_per_s_mean"] = round(len(measured) / span, 4)
        rec.report["op_samples"] = len(lat)
        if len(lat) >= 1000:  # at least ten samples beyond the p99
            rec.report["op_p99_ms"] = round(pct(lat, 0.99), 4)
        rec.report["ops_per_window"] = per_window
        by_op = {
            op: [x.ms for x in plain if x.op == op]
            for op, _ in MIX
        }
        rec.report["getattr_p50_ms"] = round(median(by_op["getattr"]), 4)
        rec.report["list_p50_ms"] = round(median(by_op["list"]), 4)
        rec.report["read_p50_ms"] = round(median(by_op["read"]), 4)
        rec.report["commit_visible_s"] = round(rec.e2e["pass_s"][0], 4)
        rec.report["requests"] = len(samples)
        rec.report["writer_cycles"] = len(cycles)
        # staleness: committed version at answer time minus the answer's
        timeline = sorted((c["commit_end"], c["version"]) for c in cycles)
        worst = 0
        for x in ok:
            committed = max([v for t, v in timeline if t <= x.t1], default=self.base_version)
            worst = max(worst, committed - x.version)
        rec.report["staleness_versions_max"] = worst
        hits, dec, pr = stats.get("hits", 0), stats.get("decodes", 0), stats.get("point_reads", 0)
        lookups = hits + dec + pr
        rec.report["cache.hit_ratio"] = round(hits / lookups, 4) if lookups else 0.0
        if not trace:
            return
        traced = [x for x in measured if x.traced and x.spans]
        handle = [(x.spans[1] - x.spans[0]) * 1000 for x in traced]
        rec.layers["serving.handle_ms_p50"] = (median(handle), "ms")
        rec.layers["serving.handle_ms_p99"] = (pct(handle, 0.99), "ms")
        rec.layers["transport.overhead_ms_p50"] = (
            median(x.ms - h for x, h in zip(traced, handle)), "ms")
        rec.layers["sources.cas.read_ms_p50"] = (
            median((x.spans[2][1] - x.spans[2][0]) * 1000 for x in traced if x.spans[2]), "ms")
        traced_lat = [x.ms for x in traced]
        rec.report["tracing_overhead.op_p50_ms"] = round(median(traced_lat) - median(lat), 4)
        rec.layers["serving.cache.lookups"] = (lookups, "count")
        for k in ("hits", "decodes", "point_reads", "patches", "admissions", "evictions"):
            rec.layers[f"serving.cache.{k}"] = (stats.get(k, 0), "count")
        rec.layers["serving.cache.hit_ratio"] = (rec.report["cache.hit_ratio"], "ratio")
        rec.layers["catalog.commitlog.commit_s_p50"] = (
            median(c["commit_end"] - c["t0"] for c in cycles), "s")
        rec.layers["streaming.mirror.fold_s_p50"] = (
            median(c["fold_end"] - c["commit_end"] for c in cycles), "s")
        rec.layers["streaming.mirror.folds"] = (len(cycles), "count")
        rec.layers["serving.staleness_versions_max"] = (worst, "count")
        for name in ("getattr_p50_ms", "list_p50_ms", "read_p50_ms"):
            rec.layers[name] = (rec.report[name], "ms")
        rec.layers["commit_visible_s"] = (rec.report["commit_visible_s"], "s")
        # Spark layers of the writer's folds, per cycle
        folds = [c["fold"] for c in cycles if c["fold"]]
        for key, name, unit in (
            ("jobs", "spark.jobs", "count"), ("stages", "spark.stages", "count"),
            ("tasks", "spark.tasks", "count"), ("task_run_s", "spark.task_run_s", "s"),
            ("task_cpu_s", "spark.task_cpu_s", "s"), ("gc_s", "spark.gc_s", "s"),
            ("task_offcpu_s", "spark.task_offcpu_s", "s"),
            ("shuffle_read_mb", "spark.shuffle_read_mb", "MB"),
            ("shuffle_write_mb", "spark.shuffle_write_mb", "MB"),
            ("input_mb", "spark.input_mb", "MB"),
        ):
            rec.layers[name] = (median(f[key] for f in folds), unit)
        # spans: request -> handle -> cas.read (every traced request, wrong
        # answers too); commit -> fold -> job -> visible
        spans: list[Span] = []
        for x in samples:
            if not (x.traced and x.spans):
                continue
            ri = len(spans)
            spans.append(Span(f"request.{x.op}", x.t0, x.t1))
            hi = len(spans)
            spans.append(Span("serving.handle", x.spans[0], x.spans[1], ri))
            if x.spans[2]:
                spans.append(Span("sources.cas.read", x.spans[2][0], x.spans[2][1], hi))
        for c in cycles:
            wi = len(spans)
            spans.append(Span("writer.cycle", c["t0"], c["visible"]))
            spans.append(Span("catalog.commitlog.commit", c["t0"], c["commit_end"], wi))
            fi = len(spans)
            spans.append(Span("streaming.mirror.fold", c["commit_end"], c["fold_end"], wi))
            for j in c["fold_jobs"]:
                spans.append(Span("spark.job", j["t0"], j["t1"], fi, {"jobId": j["jobId"]}))
            spans.append(Span("serving.visible_wait", c["fold_end"], c["visible"], wi))
        rec.spans = spans
