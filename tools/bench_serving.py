#!/usr/bin/env python
"""Mirror-backed serving under live folds (r6 verdict task 5): the
read-path-decoupling claim, measured. A writer thread commits deltas
and folds the streaming mirror continuously while N client threads
hammer the TCP service (``serve_mirror``); we record throughput,
latency percentiles, and the staleness bound (how many commit-log
versions behind each answer was, from its ``mirrorVersion`` tag vs
the committed-version timeline).

Two phases per catalog size: QUIESCENT (no writer — the ceiling) and
LIVE (folds landing mid-traffic — the decoupling claim). Prints one
JSON line; results land in BASELINE.md.

Usage: [BENCH_INODES=20000] [BENCH_SECONDS=10] [BENCH_CLIENTS=4]
       python tools/bench_serving.py
"""

from __future__ import annotations

import bisect
import json
import os
import random
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tempfile  # noqa: E402

from pufs_spark import serving  # noqa: E402
from pufs_spark.catalog import commitlog as CL  # noqa: E402
from pufs_spark.catalog.datastore import ROOT_INODE  # noqa: E402
from pufs_spark.session import get_spark  # noqa: E402
from pufs_spark.streaming import mirror as M  # noqa: E402

N_INODES = int(os.environ.get("BENCH_INODES", "20000"))
SECONDS = float(os.environ.get("BENCH_SECONDS", "10"))
N_CLIENTS = int(os.environ.get("BENCH_CLIENTS", "4"))
FLEET_SIZES = os.environ.get("BENCH_FLEET", "1,2,4")
# Per-request client timeout. A request past it is recorded as a
# 'timeout' sample (the client reconnects and keeps going) — at 10M
# inodes a cold depth-1 listing can fault dozens of 150k-row buckets,
# and dying on the first one would hide exactly the cliff this bench
# exists to surface.
TIMEOUT_S = float(os.environ.get("BENCH_TIMEOUT", "30"))


def build_catalog(root: str, n_inodes: int) -> tuple:
    """~n_inodes catalog: sqrt-ish fanout (top dirs × files)."""
    n_top = max(8, int(n_inodes ** 0.5 // 2))
    n_files = max(1, n_inodes // n_top - 1)
    w, log = CL.open_log(root)
    for i in range(n_top):
        d = w.mkdir(ROOT_INODE, f"dir{i:05d}")
        for j in range(n_files):
            w.add_immutable_bytes(d, f"f{j:05d}", b"x" * (1 + (i + j) % 64))
    log.commit(w)
    return w, log, n_top, n_files


def client_worker(port: int, seed: int, seconds: float, paths: list[str],
                  dirs: list[str], q, p_getattr: float = 0.8) -> None:
    """Runs in its OWN process — clients must not share the server's
    GIL, or the bench measures client/server interpreter contention
    instead of service latency."""
    out = []
    try:
        c = serving.PufsClient("127.0.0.1", port, timeout=TIMEOUT_S)
        rng = random.Random(seed)
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline:
            r = rng.random()
            t0 = time.monotonic()
            try:
                if r < p_getattr:
                    op = "getattr"
                    resp = c.call(op=op, path=rng.choice(paths))
                else:
                    # a depth-1 dir listing is the expensive op by
                    # design: its children spread across buckets
                    # (depth-2 key rule)
                    op = "list"
                    resp = c.call(op="get_dir_contents",
                                  path=rng.choice(dirs))
            except (TimeoutError, OSError):
                # record the blown budget and reconnect (the late
                # response would desync the line protocol) — timeouts
                # are data, not a bench crash
                out.append((time.monotonic(), time.monotonic() - t0, -1,
                            "timeout"))
                try:
                    c.close()
                except OSError:
                    pass
                c = serving.PufsClient("127.0.0.1", port, timeout=TIMEOUT_S)
                continue
            dt = time.monotonic() - t0
            if resp.get("errorMsg", ""):
                # in-band errors ARE part of the contract (a request
                # straddling two folds): count them, don't crash —
                # and a crashed worker would deadlock run_phase's
                # q.get() anyway
                op = "error"
            out.append(
                (time.monotonic(), dt, resp.get("mirrorVersion", -1), op)
            )
        c.close()
    finally:
        q.put(out)


def _fleet_cache_stats(port: int, n_workers: int,
                       max_tries: int = 64) -> dict:
    """Per-worker cache counters from a SO_REUSEPORT fleet: each fresh
    connection lands on one worker by 4-tuple hash, so open
    connections until ``n_workers`` distinct pids answered the
    cache_stats op (or the try budget runs out — the dict then simply
    carries the workers that were reachable)."""
    seen: dict = {}
    for _ in range(max_tries):
        if len(seen) >= n_workers:
            break
        try:
            c = serving.PufsClient("127.0.0.1", port, timeout=TIMEOUT_S)
        except (OSError, TimeoutError):
            continue
        try:  # close on EVERY exit — a raising call() must not leak
            resp = c.call(op="cache_stats")
        except (OSError, TimeoutError):
            continue
        finally:
            try:
                c.close()
            except OSError:
                pass
        pid = resp.get("pid")
        if pid is not None and pid not in seen:
            seen[pid] = {
                k: v for k, v in resp.items()
                if k not in ("errorMsg", "mirrorVersion", "pid")
            }
    out = {str(p): s for p, s in seen.items()}
    # partial coverage is DATA, not an error — but it must be legible
    # as partial (ADVICE r11: a reader mistook a short dict for full
    # fleet coverage)
    out["_coverage"] = {"expected_workers": n_workers, "seen": len(seen)}
    return out


def run_phase(port: int, paths, dirs, seconds: float,
              writer=None, n_clients: int | None = None,
              p_getattr: float = 0.8) -> tuple[list, list]:
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=client_worker,
                    args=(port, 1000 + i, seconds, paths, dirs, q,
                          p_getattr))
        for i in range(N_CLIENTS if n_clients is None else n_clients)
    ]
    stop = threading.Event()
    timeline: list[tuple[float, int]] = []
    wt = None
    if writer is not None:
        wt = threading.Thread(target=writer, args=(stop, timeline))
    for p in procs:
        p.start()
    if wt:
        wt.start()
    samples = []
    for _ in procs:
        samples.extend(q.get())
    for p in procs:
        p.join()
    stop.set()
    if wt:
        wt.join()
    return samples, timeline


def summarize(samples: list, timeline: list, seconds: float) -> dict:
    def pcts(lats):
        lats = sorted(lats)
        if not lats:
            return {"p50_ms": None, "p99_ms": None}

        def pct(p):
            return round(
                lats[min(len(lats) - 1, int(p * len(lats)))] * 1000, 3
            )

        return {"p50_ms": pct(0.50), "p99_ms": pct(0.99)}

    out = {
        "requests": len(samples),
        "qps": round(len(samples) / seconds, 1),
        **pcts([dt for _, dt, _, _ in samples]),
        "getattr": pcts([dt for _, dt, _, op in samples if op == "getattr"]),
        "list": pcts([dt for _, dt, _, op in samples if op == "list"]),
        "errors": sum(1 for *_x, op in samples if op == "error"),
        "timeouts": sum(1 for *_x, op in samples if op == "timeout"),
    }
    if timeline:
        # staleness of each answer = committed version at response time
        # minus the mirrorVersion the answer carried
        times = [t for t, _v in timeline]
        vers = [v for _t, v in timeline]
        worst = 0
        for t, _dt, mv, _op in samples:
            i = bisect.bisect_right(times, t) - 1
            if i >= 0:
                worst = max(worst, vers[i] - mv)
        out["max_staleness_versions"] = worst
        out["folds"] = len(timeline)
    return out


def main() -> None:
    spark = get_spark(app_name="bench_serving")
    out: dict = {"inodes": N_INODES, "clients": N_CLIENTS,
                 "seconds": SECONDS}
    with tempfile.TemporaryDirectory() as tmp:
        root = os.path.join(tmp, "cat")
        mdir = os.path.join(tmp, "mirror")
        ckpt = os.path.join(tmp, "ckpt")
        t0 = time.monotonic()
        w, log, n_top, n_files = build_catalog(root, N_INODES)
        out["build_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        q = M.start_catalog_mirror(spark, root, mdir, ckpt)
        q.awaitTermination(600)
        out["initial_fold_s"] = round(time.monotonic() - t0, 2)

        dirs = [f"/dir{i:05d}" for i in range(n_top)]
        rng = random.Random(7)
        paths = [
            f"/dir{rng.randrange(n_top):05d}/f{rng.randrange(n_files):05d}"
            for _ in range(2000)
        ]
        server, port = serving.serve_mirror(mdir)

        samples, _ = run_phase(port, paths, dirs, SECONDS)
        out["quiescent"] = summarize(samples, [], SECONDS)

        wseq = iter(range(1 << 30))  # shared across phases: unique names

        # checkpoint_every is disabled for the bench writers: at 10M a
        # period-16 checkpoint triggers a ~2 min distributed rebuild
        # MID-PHASE (the cumulative fold count crosses it), stalling
        # the writer and polluting the phase with rebuild GIL time —
        # the wholesale arm has its own bench (bench_mirror_rebuild).
        NO_CKPT = 1 << 30

        def writer(stop: threading.Event, timeline: list) -> None:
            while not stop.is_set():
                i = next(wseq)
                d = w.resolve_path(f"/dir{i % n_top:05d}")
                w.add_immutable_bytes(d, f"live{i:06d}", b"y" * 16)
                log.commit(w, checkpoint_every=NO_CKPT)
                qq = M.start_catalog_mirror(spark, root, mdir, ckpt)
                qq.awaitTermination(120)
                timeline.append((time.monotonic(), log.current_version()))

        samples, timeline = run_phase(port, paths, dirs, SECONDS, writer)
        out["live"] = summarize(samples, timeline, SECONDS)

        # aggregate ops (stat + root listing): fold-maintained meta /
        # sidecar reads as of r9 — must stay flat even when the
        # decoded catalog no longer fits the default 1 GiB cache cap
        # (pre-r9 these swept every bucket and thrashed the LRU)
        def lat_pcts(lats):
            lats = sorted(lats)
            return {
                "n": len(lats),
                "p50_ms": round(lats[len(lats) // 2] * 1000, 3),
                "p99_ms": round(
                    lats[min(len(lats) - 1, int(0.99 * len(lats)))] * 1000, 3
                ),
            }

        agg: dict = {"stat": [], "root_list": []}
        c = serving.PufsClient("127.0.0.1", port, timeout=60.0)
        deadline = time.monotonic() + min(SECONDS, 5.0)
        while time.monotonic() < deadline:
            t0 = time.monotonic()
            r = c.call(op="stat")
            agg["stat"].append(time.monotonic() - t0)
            assert not r.get("errorMsg"), r
            t0 = time.monotonic()
            r = c.call(op="get_dir_contents", path="/")
            agg["root_list"].append(time.monotonic() - t0)
            assert not r.get("errorMsg"), r
        c.close()
        out["aggregates"] = {k: lat_pcts(v) for k, v in agg.items()}
        st = server.service.store
        out["cache"] = {
            "cap_bytes": st.max_cache_bytes,
            "cached_bytes": st.cached_bytes(),
        }
        server.shutdown()

        # zipf-skewed getattr: hot-bucket admission vs all-point-reads
        # (r9 verdict finding 3 / r10 task 4). Each mode gets a FRESH
        # cold store so admission warms from nothing; "point_reads
        # only" disables admission by making the threshold unreachable.
        # The done-criterion: admission qps >= point-only qps (the hot
        # working set reaches warm-dict speed, scan tail unchanged).
        import hashlib

        def zipf_paths(seed: int, size: int = 30000, s: float = 1.16):
            """Rank-weighted path sample: pareto-distributed rank,
            md5(rank) -> stable path, so the SAME few paths (and
            therefore buckets) carry most of the traffic."""
            zrng = random.Random(seed)
            outp = []
            while len(outp) < size:
                r = int(zrng.paretovariate(s))
                h = hashlib.md5(str(r).encode()).digest()
                i = int.from_bytes(h[:4], "big") % n_top
                j = int.from_bytes(h[4:8], "big") % n_files
                outp.append(f"/dir{i:05d}/f{j:05d}")
            return outp

        zpaths = zipf_paths(11)
        # admission amortizes decodes over time (break-even ~150 reads
        # per 150k-row bucket) — a too-short phase measures only the
        # warmup, so default the skew phases to >= 45 s each
        skew_secs = float(
            os.environ.get("BENCH_SKEW_SECONDS", str(max(SECONDS, 45.0)))
        )
        out["skew"] = {}
        for mode in ("admission", "point_reads_only"):
            st = serving.MirrorStore(mdir)
            if mode == "point_reads_only":
                st.POINT_ADMIT_AFTER = 1 << 60  # instance attr: never admit
            srv = serving.PufsServer(
                serving.MirrorService(st), "127.0.0.1", 0
            )
            threading.Thread(target=srv.serve_forever, daemon=True).start()
            sport = srv.server_address[1]
            samples, _ = run_phase(
                sport, zpaths, dirs, skew_secs, p_getattr=1.0
            )
            out["skew"][mode] = {
                **summarize(samples, [], skew_secs),
                "point_reads_mode": st.snapshot().point_reads,
                "cached_bytes": st.cached_bytes(),
                "cache_stats": st.stats(),
            }
            srv.shutdown()
        pq_qps = out["skew"]["point_reads_only"]["qps"]
        out["skew"]["admission_speedup"] = (
            round(out["skew"]["admission"]["qps"] / pq_qps, 2)
            if pq_qps else None
        )

        # zipf-skewed getattr UNDER LIVE FOLDS, served through the r10
        # delta-sidecar cache patch. The writer here mutates the HOT
        # paths themselves (remove + re-add in one commit = a net size
        # change), so every fold touches an admitted resident bucket —
        # the exact case the patch targets: the resident is patched
        # forward in O(batch) instead of re-earning admission and
        # re-decoding (~2 s at 156k rows) per fold. The co-located fold
        # cost (driver-side decode/rewrite of the touched buckets holds
        # the GIL in this single-process bench) is part of this row.
        import collections

        hot = [p for p, _ in collections.Counter(zpaths).most_common(50)]

        def hot_writer(stop: threading.Event, timeline: list) -> None:
            while not stop.is_set():
                i = next(wseq)
                p = hot[i % len(hot)]
                parent, _, name = p.rpartition("/")
                d = w.resolve_path(parent)
                w.remove(d, name)
                w.add_immutable_bytes(d, name, b"z" * (8 + i % 8))
                log.commit(w, checkpoint_every=NO_CKPT)
                qq = M.start_catalog_mirror(spark, root, mdir, ckpt)
                qq.awaitTermination(120)
                timeline.append((time.monotonic(), log.current_version()))

        st = serving.MirrorStore(mdir)
        srv = serving.PufsServer(serving.MirrorService(st), "127.0.0.1", 0)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        sport = srv.server_address[1]
        samples, timeline = run_phase(
            sport, zpaths, dirs, skew_secs, hot_writer, p_getattr=1.0
        )
        out["skew"]["hot_folds_patch"] = {
            **summarize(samples, timeline, skew_secs),
            "cached_bytes": st.cached_bytes(),
            # patches vs decodes is the fold-cadence-vs-patch-rate
            # number the r10 verdict asked for: a healthy phase shows
            # patches ~ folds x hot-buckets and decodes near the warmup
            # count; decodes growing with folds means residents are
            # falling back to reload
            "cache_stats": st.stats(),
        }
        srv.shutdown()

        # writer-ISOLATED single-process serving (r10 verdict task:
        # the co-located hot_folds rows above are confounded by the
        # writer's fold holding the bench process's GIL — driver-side
        # parquet decode/rewrite of every touched bucket). A 1-process
        # fleet is exactly "one serving process without the writer's
        # GIL": same store code, same patched cache, writer + clients
        # stay in the bench process. Compare against hot_folds_patch
        # (co-located) and skew.admission (quiescent ceiling).
        if os.environ.get("BENCH_HOT_ISOLATED", "1") == "1":
            fleet, fport = serving.serve_mirror_fleet(mdir, n_procs=1)
            try:
                samples, timeline = run_phase(
                    fport, zpaths, dirs, skew_secs, hot_writer,
                    p_getattr=1.0,
                )
                row = {
                    **summarize(samples, timeline, skew_secs),
                }
                try:
                    c = serving.PufsClient(
                        "127.0.0.1", fport, timeout=TIMEOUT_S
                    )
                    row["cache_stats"] = {
                        k: v for k, v in c.call(op="cache_stats").items()
                        if k not in ("errorMsg", "mirrorVersion")
                    }
                    c.close()
                except (OSError, TimeoutError):
                    row["cache_stats"] = None
                out["skew"]["hot_folds_isolated1"] = row
            finally:
                fleet.stop()

        # the PRODUCTION shape of the same workload: a 4-process fleet
        # serves (each worker patches its own cache independently)
        # while the writer folds — the workers don't share the
        # driver's GIL, so this should hold near fleet-quiescent qps
        # instead of paying the co-located fold cost above.
        if os.environ.get("BENCH_HOT_FLEET", "1") == "1":
            fleet, fport = serving.serve_mirror_fleet(mdir, n_procs=4)
            try:
                samples, timeline = run_phase(
                    fport, zpaths, dirs, skew_secs, hot_writer,
                    n_clients=16, p_getattr=1.0,
                )
                out["skew"]["hot_folds_fleet4"] = {
                    "clients": 16,
                    **summarize(samples, timeline, skew_secs),
                    "cache_stats_by_worker": _fleet_cache_stats(fport, 4),
                }
            finally:
                fleet.stop()

        # fleet scaling (r7 verdict task 6): same catalog, quiescent,
        # N SO_REUSEPORT processes. Long-lived connections stick to one
        # worker by 4-tuple hash, so offer 4 clients PER worker to
        # spread the group; per-phase client count scales with the
        # fleet so the offered load isn't the ceiling.
        out["fleet"] = {}
        for n in (int(x) for x in FLEET_SIZES.split(",") if x):
            fleet, fport = serving.serve_mirror_fleet(mdir, n_procs=n)
            try:
                nclients = max(N_CLIENTS, 4 * n)
                samples, _ = run_phase(
                    fport, paths, dirs, SECONDS, n_clients=nclients
                )
                out["fleet"][str(n)] = {
                    "clients": nclients,
                    **summarize(samples, [], SECONDS),
                }
            finally:
                fleet.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
