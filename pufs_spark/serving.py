"""S12: the catalog metadata service — the reference's gRPC surface.

The reference serves ``GetDirContents`` over gRPC (``api/api.proto:4-28``,
wired in ``pufs/cmd/mount.go:114-141``): path in, a repeated ``Entry``
(id, name, isDirty, isDir, size, modTimeSeconds, blockID,
populatedRegionCount, populatedSize) plus an in-band ``errorMsg`` out.

Spark-first, the primary result sink is a DataFrame (every ``queries()``
entry) and the ``pufs`` data source for vanilla ``spark.read`` — but the
*network seam* still matters: an operator wants to poke a live catalog
without a SparkSession. gRPC/protobuf aren't in this container, so the
same service shape is spoken as newline-delimited JSON over TCP — one
request object per line, one response object per line, field names
matching the proto so a gRPC transport could be swapped in without
touching the handler logic:

    {"op": "get_dir_contents", "path": "/a"}
      -> {"entries": [{"id": 2, "name": "f", "isDirty": false,
                       "isDir": false, "size": 3,
                       "modTimeSeconds": 1700000000,
                       "blockId": "<bid>", "populatedRegionCount": 0,
                       "populatedSize": 0}], "errorMsg": ""}

Errors are in-band (``errorMsg``), exactly like the proto — the
transport never sees an exception. Extra ops beyond the reference's
single rpc (all read-only): ``getattr``, ``resolve``, ``read`` (ranged,
base64 payload), ``stat`` (catalog totals).
"""

from __future__ import annotations

import base64
import json
import socket
import socketserver
import threading

from pufs_spark.catalog import errors as E
from pufs_spark.catalog.datastore import DataStore

try:
    # stdlib json spends ~0.8ms encoding a 300-entry listing — with it,
    # serialization dominated the measured request latency (bench_
    # serving). orjson is ~10× faster; import-gated, stdlib fallback.
    import orjson as _oj

    def _dumps(obj) -> bytes:
        return _oj.dumps(obj)

    _loads = _oj.loads
except ImportError:  # pragma: no cover — container has orjson
    def _dumps(obj) -> bytes:
        return json.dumps(obj).encode()

    _loads = json.loads


def _entry_dict(e, region_stats=None) -> dict:
    """DirEntry -> proto Entry field names (api/api.proto:10-24)."""
    prc, psz = (0, 0)
    if region_stats is not None and e.bid and not e.is_dir:
        prc, psz = region_stats(e.bid)
    return {
        "id": e.inode,
        "name": e.name,
        "isDirty": e.is_dirty,
        "isDir": e.is_dir,
        "size": e.size,
        "modTimeSeconds": int(e.mtime),
        "blockId": e.bid or "",
        "populatedRegionCount": prc,
        "populatedSize": psz,
    }


class PufsService:
    """Request dispatcher over one DataStore. Transport-agnostic: the
    TCP server below and the tests both call ``handle`` directly.

    ``region_stats``: optional ``bid -> (count, bytes)`` callable (wired
    to ``SparseFreezer.region_stats`` when a sparse cache backs the
    store) filling the proto's populated* fields, as the reference does
    from its region map (core/datastore.go:391-466)."""

    def __init__(self, store: DataStore, region_stats=None):
        self.store = store
        self.region_stats = region_stats
        # One catalog mutator at a time server-side; the store itself
        # is the reference's single-writer model (SURVEY §3.1) and
        # lazy listing expansion mutates internal maps.
        self._lock = threading.Lock()

    def handle(self, req: dict) -> dict:
        try:
            op = req.get("op")
            if op == "get_dir_contents":
                return self._get_dir_contents(req["path"])
            if op == "getattr":
                return self._getattr(req["path"])
            if op == "resolve":
                with self._lock:
                    return {"id": self.store.resolve_path(req["path"]),
                            "errorMsg": ""}
            if op == "read":
                return self._read(
                    req["path"], req.get("offset", 0), req.get("length")
                )
            if op == "stat":
                return self._stat()
            return {"errorMsg": f"unknown op {op!r}"}
        except E.CatalogError as exc:
            # in-band, typed: the proto's errorMsg field
            return {"errorMsg": f"{type(exc).__name__}: {exc}"}
        except KeyError as exc:
            return {"errorMsg": f"missing field {exc}"}

    def _get_dir_contents(self, path: str) -> dict:
        with self._lock:
            inode = self.store.resolve_path(path)
            entries = self.store.walk_dir_contents(inode)
        return {
            "entries": [
                _entry_dict(e, self.region_stats) for e in entries
            ],
            "errorMsg": "",
        }

    def _getattr(self, path: str) -> dict:
        with self._lock:
            attrs = self.store.getattr(self.store.resolve_path(path))
        return {**attrs, "errorMsg": ""}

    def _read(self, path: str, offset: int, length: int | None) -> dict:
        with self._lock:
            inode = self.store.resolve_path(path)
            data = self.store.read(inode, offset=offset, length=length)
        return {
            "data": base64.b64encode(data).decode(),
            "n": len(data),
            "errorMsg": "",
        }

    def _stat(self) -> dict:
        with self._lock:
            nodes = list(self.store.nodes.values())
        return {
            "nodes": len(nodes),
            "dirs": sum(1 for n in nodes if n.is_dir),
            "files": sum(1 for n in nodes if not n.is_dir),
            "bytes": sum(n.size for n in nodes if not n.is_dir),
            "errorMsg": "",
        }


class MirrorStore:
    """Read-only catalog view over a streaming catalog mirror
    (streaming/mirror.py) — the scale-out read path: the reference
    splits its gRPC server from the writer by serving straight off the
    BoltDB file (pufs/cmd/mount.go:199-233); here the server reads the
    mirror parquet the streaming fold maintains, fully decoupled from
    the single-writer driver DataStore.

    Bucket-grain caching: the mirror is bucketed by top-level path
    component, and unchanged buckets are HARD-LINKED between state
    versions, so a cache keyed by each bucket file's (inode, mtime,
    size) signature survives version bumps for untouched buckets —
    refresh cost after a fold is O(changed buckets), and a lookup or
    non-root listing touches exactly one bucket. For the buckets a
    fold DID touch, the fold's delta sidecar (mirror.DELTA_FILE) lets
    a stale resident entry be patched forward in place — O(batch)
    dict upserts/deletes instead of a full re-decode or a fresh
    point-read admission re-earn (see ``_cache_hit``). A root listing and
    stat() touch NO data buckets at all: the fold maintains per-bucket
    (nodes, dirs, files, bytes) totals in the mirror meta and the
    depth-1 entries in a rootdir sidecar, so both ops are meta-sized
    reads. The cache is a byte-capped LRU (``max_cache_bytes``, default
    1 GiB): the server's resident memory is O(cap) even when the
    request mix eventually touches every bucket of a 10M-inode catalog
    — an evicted bucket rebuilds from one parquet read.

    One cache-miss policy: when the state's estimated decoded size fits
    the cap, a miss decodes the bucket into the cache; when it does not
    (``MirrorSnapshot.point_reads``), a miss is a filtered parquet read
    and a bucket enters the cache only through hot-bucket admission.

    Consistency: every query runs against a ``snapshot()`` — version,
    state dir, bucket count, and top-group summary resolved from ONE
    meta read — so a fold landing mid-request can't mix versions
    within one answer, and the ``mirrorVersion`` a response carries is
    the version its data actually came from. A snapshot stays readable
    across one subsequent fold (the fold keeps the previous state dir
    for in-flight readers); a reader slow enough to straddle TWO folds
    sees its state dir pruned and gets OSError — MirrorService retries
    once on a fresh snapshot, then reports in-band."""

    # Default decoded-bucket cache bound. Entries rebuild from one
    # parquet read (~ms), so eviction is cheap; without a bound a
    # long-lived server whose request mix eventually touches every
    # bucket holds the ENTIRE catalog as Python dicts — multi-GB at
    # the reference's 10M-inode cap (core/datastore.go:148), the same
    # O(catalog)-in-one-process ceiling the mirror's checkpoint arm
    # closed round 7, relocated into the server.
    DEFAULT_CACHE_BYTES = 1 << 30  # 1 GiB of estimated decoded dicts

    # Point-read mode: when the state's ESTIMATED decoded size (from
    # the fold-maintained per-bucket node totals) exceeds the cache
    # cap, caching would thrash by construction — decoding a 150k-row
    # bucket costs ~1-2 s of Python object materialization and evicts
    # ~50 MB of hot entries; at 10M inodes / 64 buckets uniform
    # getattr traffic collapsed to ~1 qps from LRU thrash (r9 bench).
    # Every miss then serves lookups / listings via a FILTERED parquet
    # read (pyarrow predicate pushdown: only the matching row group(s)
    # and rows, ~ms, no cache insert). MirrorSnapshot computes the
    # flag once per request from the meta it already read. When the
    # decoded state fits the cap, every bucket fits too, and misses
    # keep the decode-and-cache path: a warm dict hit is ~0.1 ms.
    #
    # Estimated decoded bytes per catalog row (dict/tuple overhead +
    # twice the path text at typical path lengths) — matches
    # _entry_bytes' accounting, used with the meta's per-bucket node
    # counts to predict whether the decoded state fits the cap.
    EST_DECODED_BYTES_PER_ROW = 340

    # Hot-bucket admission under point-read mode (r9 verdict finding
    # 3): all-or-nothing point reads left a SKEWED workload — whose
    # hot working set WOULD fit the cap — paying a ~ms filtered read
    # on every request instead of the ~0.1 ms warm-dict hit. A bucket
    # is admitted into the LRU after its POINT_ADMIT_AFTER'th point
    # read within a decay window, and ONLY while the cache has
    # headroom for its estimated decoded size — an admission never
    # evicts, so scan-shaped traffic (uniform over more buckets than
    # fit) can fill the cache with its first hot-enough buckets but
    # can never thrash what is already resident; everything else
    # keeps the filtered-read path. The invariant is enforced twice:
    # the estimate-based headroom pre-check here, and again at insert
    # time against the ACTUAL decoded size (_cache_put no_evict=True
    # drops the insert instead of evicting — the estimate can
    # undershoot on long path text, and concurrent admissions can
    # race past the same headroom). Counters halve every
    # POINT_FREQ_WINDOW point reads (TinyLFU-style aging), so "hot"
    # means hot recently.
    #
    # The threshold SCALES WITH THE BUCKET'S DECODE COST: the 10M
    # bench measured a 150k-row bucket decode at ~2 s (13 µs/row of
    # Python dict materialization) vs ~10-15 ms per filtered point
    # read — break-even is ~150 reads, and a fixed low threshold made
    # admission a net LOSS over short horizons (first 10M run:
    # admission 212 qps vs 240 qps point-reads-only, every inline
    # decode stalling the process ~2 s). ``_admit_threshold`` charges
    # each bucket its own break-even count (floor POINT_ADMIT_AFTER,
    # ceiling POINT_ADMIT_CEIL), so small buckets admit quickly and
    # 150k-row buckets must earn their decode. A side effect the
    # uniform case inherits: 64-bucket uniform traffic accumulates
    # ~2×(4096/64)=128 per window < the ~190 break-even of a 10M/64
    # bucket — scan-shaped traffic no longer admits AT ALL at that
    # shape, which is exactly right (every decode it skipped was a
    # 2 s stall it couldn't amortize).
    POINT_ADMIT_AFTER = 8
    POINT_ADMIT_CEIL = 512
    POINT_FREQ_WINDOW = 4096
    # decode ≈ DECODE_US_PER_ROW µs/row; one filtered point read ≈
    # POINT_READ_COST_MS (both measured, 10M bench r10)
    DECODE_US_PER_ROW = 13.0
    POINT_READ_COST_MS = 10.0
    # Lower bound on decoded-bytes / parquet-bytes: path-sorted bucket
    # files compress 20-25x (r9 bench); even hostile content stays
    # above ~4x. The admission pre-check takes max(fold-maintained
    # estimate, parquet_size x this) so a stale or corrupted tiny
    # estimate on a giant file can't pass the headroom check and stall
    # the request thread on a multi-second decode whose insert is then
    # dropped anyway (the decode itself runs BEFORE the _cache_put
    # actual-size check — bounding the estimate is the only way to
    # avoid paying it).
    EST_MIN_DECODE_RATIO = 4.0

    def __init__(self, mirror_dir: str, max_cache_bytes: int | None = None,
                 calibrate: bool = False):
        self.mirror_dir = mirror_dir
        # file → (sig, rows, kids, est): rows is path → (is_dir, size,
        # bid); kids is parent-path → [(name, row)] so a listing reads
        # its result directly instead of scanning every row in the
        # bucket (measured: depth-1 listings were 16ms/bucket-scan at
        # 20k inodes and serialized everything else behind the GIL).
        # OrderedDict + move_to_end = LRU; evicted past
        # max_cache_bytes of ESTIMATED decoded size (paths are counted
        # once but indexed twice, plus fixed per-row dict/tuple
        # overhead — an upper-bound-ish estimate, not sys.getsizeof
        # recursion, which would cost more than the decode).
        from collections import OrderedDict

        self._cache: "OrderedDict[str, tuple[tuple, dict, dict, int]]" = (
            OrderedDict()
        )
        # rootdir-sidecar path → (sig, sorted root entries); tiny
        # (top-level fanout), kept outside the byte-capped bucket LRU
        # so a root listing can never be evicted by a bucket sweep.
        self._rootdir_cache: dict = {}
        # delta-sidecar path → (sig, parsed per-bucket patch entries);
        # one sidecar per published fold, parsed once, pruned like the
        # rootdir cache (at most {current, previous} state dirs exist).
        self._delta_cache: dict = {}
        self._cache_bytes = 0
        self.max_cache_bytes = (
            self.DEFAULT_CACHE_BYTES if max_cache_bytes is None
            else max_cache_bytes
        )
        # TinyLFU-ish admission state for point-read mode: bucket
        # fname → point-read count since the last decay (see
        # _note_point_read). Bounded by the re-bucket ceiling (4096
        # buckets), a few hundred KB worst case.
        self._point_freq: dict[str, int] = {}
        self._point_accesses = 0
        # bucket fname → (parquet bytes, actual decoded bytes) from the
        # LAST full decode (recorded by _cache_put, even for dropped
        # no_evict inserts). The admission estimate prefers this —
        # scaled by the current/measured parquet-size ratio — over the
        # fold-maintained per-row estimate and its EST_MIN_DECODE_RATIO
        # floor: the floor protects a NEVER-decoded bucket from a
        # hopeless multi-second decode, but for a bucket whose real
        # ratio is below the floor (high-entropy path names compress
        # poorly) the inflated estimate would permanently fail the
        # headroom pre-check even though the bucket fits (ADVICE r11).
        # Bounded like _point_freq by the 4096-bucket ceiling.
        self._measured_bytes: dict[str, tuple[int, int]] = {}
        # Monotonic op counters (read via ``stats`` / the service's
        # cache_stats op): hits = warm-dict answers, patches = stale
        # residents moved forward by a fold's delta sidecar, decodes =
        # full bucket parquet decodes (admissions are the no_evict
        # subset), point_reads = filtered/batched parquet reads that
        # bypassed the cache, evictions = LRU entries dropped for
        # space. The hit/patch/decode/point-read mix is how an
        # operator tells "cache working" from "cache thrashing or
        # folds outpacing the patch" without a profiler.
        self._stats = {
            "hits": 0, "patches": 0, "decodes": 0, "admissions": 0,
            "point_reads": 0, "evictions": 0,
        }
        # Newest (version, state dir) any snapshot of THIS store has
        # resolved — the guard _drop_cached needs to tell "the bucket
        # is empty at the current state" (drop the resident) from "the
        # caller is pinned to a PREVIOUS state where the bucket was
        # empty but the current state repopulated it" (keep it: under
        # never-evict admission a wrong drop costs a full re-earn plus
        # a multi-second decode, not just a re-decode).
        self._latest_version = -1
        self._latest_state_dir: str | None = None
        # Measured admission costs (r11 verdict What's-wrong #3: the
        # class constants are ONE box's numbers; on different storage
        # the decode/point-read break-even moves and never-evict
        # admission with a wrong threshold over- or under-admits).
        # None until the first measurement; EWMA thereafter — every
        # full bucket decode and every filtered point read this store
        # actually performs feeds them, so the thresholds track the
        # LIVE storage and interpreter, not the bench box the defaults
        # came from. The class attrs stay as seeds/overrides.
        self._cal_decode_us_per_row: float | None = None
        self._cal_point_read_ms: float | None = None
        self._lock = threading.Lock()
        if calibrate:
            try:
                self.calibrate()
            except Exception:
                pass  # no state yet / unreadable: passive EWMA covers it

    def stats(self) -> dict:
        with self._lock:
            out = dict(self._stats)
            out["decode_us_per_row"] = round(self.decode_us_per_row(), 3)
            out["point_read_cost_ms"] = round(self.point_read_cost_ms(), 3)
            # Per-metric flags (ADVICE r12): a store whose largest
            # bucket has zero row groups measures decode but never the
            # point read — the combined flag alone would report the
            # whole calibration as absent when half of it landed.
            out["calibrated_decode"] = self._cal_decode_us_per_row is not None
            out["calibrated_point"] = self._cal_point_read_ms is not None
            out["calibrated"] = (
                out["calibrated_decode"] and out["calibrated_point"]
            )
            return out

    # -- admission-cost calibration -------------------------------
    # EWMA weight for new measurements; heavy enough that a store
    # moved to different storage converges within a few ops, light
    # enough that one GC-pause outlier doesn't swing the threshold.
    CAL_ALPHA = 0.3
    # A decode below this many rows is dominated by fixed per-read
    # overhead (file open, metadata, Arrow setup ~1 ms) — its µs/row
    # would overstate the marginal cost, so it doesn't update the EWMA.
    CAL_MIN_DECODE_ROWS = 1024

    def _note_decode_cost(self, nrows: int, seconds: float) -> None:
        if nrows < self.CAL_MIN_DECODE_ROWS or seconds <= 0:
            return
        us = min(1000.0, max(0.5, seconds * 1e6 / nrows))
        with self._lock:
            cur = self._cal_decode_us_per_row
            self._cal_decode_us_per_row = (
                us if cur is None else cur + self.CAL_ALPHA * (us - cur)
            )

    def _note_point_cost(self, seconds: float) -> None:
        if seconds <= 0:
            return
        ms = min(10_000.0, max(0.05, seconds * 1e3))
        with self._lock:
            cur = self._cal_point_read_ms
            self._cal_point_read_ms = (
                ms if cur is None else cur + self.CAL_ALPHA * (ms - cur)
            )

    def decode_us_per_row(self) -> float:
        return (
            self._cal_decode_us_per_row
            if self._cal_decode_us_per_row is not None
            else self.DECODE_US_PER_ROW
        )

    def point_read_cost_ms(self) -> float:
        return (
            self._cal_point_read_ms
            if self._cal_point_read_ms is not None
            else self.POINT_READ_COST_MS
        )

    def calibrate(self) -> dict | None:
        """One-shot active measurement of both admission costs against
        the CURRENT state (~tens of ms on a healthy store, bounded by
        one smallest-bucket decode + one filtered read): decode the
        smallest bucket for µs/row, filtered-read one row of the
        largest for ms/read. Seeds the same EWMAs the passive path
        feeds, so a store that never organically decodes (point-read
        mode, thresholds mis-seeded high) still starts from ITS
        OWN storage's numbers instead of another box's constants.
        Returns the measured dict, or None when no state exists."""
        import os as _os
        import time as _time

        import pyarrow.parquet as pq

        from pufs_spark.streaming import mirror as M

        v, state_dir, _, _, _ = M._resolve_state_ex(self.mirror_dir)
        if v < 0 or state_dir is None:
            return None
        buckets = [
            (st.st_size, f)
            for f in _os.listdir(state_dir)
            if f.startswith("bucket-") and f.endswith(".parquet")
            for st in (_os.stat(_os.path.join(state_dir, f)),)
            if st.st_size > 0
        ]
        if not buckets:
            return None
        buckets.sort()
        large = _os.path.join(state_dir, buckets[-1][1])
        # Decode-seed bucket: the smallest one the PASSIVE path would
        # also accept (>= CAL_MIN_DECODE_ROWS rows). Seeding from a
        # tinier bucket measures fixed per-read overhead (file open +
        # Arrow setup ~1 ms) as if it were per-row cost — ADVICE r12:
        # a 5-row smallest bucket seeded up to the 1000 µs/row clamp
        # and pushed every admission threshold to POINT_ADMIT_CEIL
        # until a real >=1024-row decode corrected it. Footer num_rows
        # is a metadata-only read; a size floor derived from the
        # largest bucket's bytes/row skips footers that cannot
        # qualify, so the walk is a handful of reads, not O(buckets).
        # No qualifying bucket -> decode the LARGEST (least-biased
        # measurement available).
        meta_large = pq.ParquetFile(large).metadata
        small = None
        if meta_large.num_rows >= self.CAL_MIN_DECODE_ROWS:
            bpr = max(1, buckets[-1][0] // max(meta_large.num_rows, 1))
            min_bytes = self.CAL_MIN_DECODE_ROWS * bpr // 2
            for size, f in buckets:
                if size < min_bytes:
                    continue
                p = _os.path.join(state_dir, f)
                if (
                    pq.ParquetFile(p).metadata.num_rows
                    >= self.CAL_MIN_DECODE_ROWS
                ):
                    small = p
                    break
        if small is None:
            small = large
        t0 = _time.perf_counter()
        t = pq.read_table(small)
        # materialize like _bucket_entry does — the Python dict build
        # IS most of the decode cost, not the Arrow read
        rows = {
            p: (d, s, b)
            for p, d, s, b in zip(
                t["path"].to_pylist(), t["is_dir"].to_pylist(),
                t["size"].to_pylist(), t["bid"].to_pylist(),
            )
        }
        dec_s = _time.perf_counter() - t0
        # probe with a path that EXISTS in the large bucket so the
        # timed read decodes a real matching row group, not a
        # stats-pruned no-op (one row-group column read to find it —
        # bounded, init-only)
        pf_path, pf = large, pq.ParquetFile(large)
        if pf.metadata.num_rows == 0:
            # the largest file can be a schema-only table; the point
            # probe needs a real row or calibrated_point stays False
            # forever on an otherwise-healthy store (ADVICE r12)
            for _size, f in reversed(buckets[:-1]):
                cand_path = _os.path.join(state_dir, f)
                cand = pq.ParquetFile(cand_path)
                if cand.metadata.num_rows > 0:
                    pf_path, pf = cand_path, cand
                    break
        probe = (
            pf.read_row_group(0, columns=["path"])["path"][0].as_py()
            if pf.metadata.num_rows > 0 else None
        )
        if probe is not None:
            t0 = _time.perf_counter()
            pq.read_table(pf_path, filters=[("path", "==", probe)])
            pr_s = _time.perf_counter() - t0
            self._note_point_cost(pr_s)
        else:
            pr_s = None
        if len(rows) >= self.CAL_MIN_DECODE_ROWS:
            # same acceptance rule as the passive path
            self._note_decode_cost(len(rows), dec_s)
        elif rows and dec_s > 0:
            # every bucket is tiny: a biased-high seed still beats
            # another box's constant, and real decodes correct it
            us = min(1000.0, max(0.5, dec_s * 1e6 / len(rows)))
            with self._lock:
                cur = self._cal_decode_us_per_row
                self._cal_decode_us_per_row = (
                    us if cur is None else cur + self.CAL_ALPHA * (us - cur)
                )
        return {
            "decode_rows": len(rows), "decode_s": dec_s,
            "point_read_s": pr_s,
            "decode_us_per_row": self._cal_decode_us_per_row,
            "point_read_cost_ms": self._cal_point_read_ms,
        }

    @staticmethod
    def _entry_bytes(rows: dict) -> int:
        """Estimated resident bytes of one decoded bucket: each row
        appears in ``rows`` (dict slot + key str + value tuple) and
        again in the kids index (list slot + name str + shared row
        tuple) — ~300 B fixed overhead per row measured against
        sys.getsizeof on a 20k-inode mirror, plus twice the path
        text."""
        return 300 * len(rows) + 2 * sum(len(p) for p in rows)

    def cached_bytes(self) -> int:
        with self._lock:
            return self._cache_bytes

    def _cache_put(
        self, fname: str, sig, rows: dict, kids: dict,
        no_evict: bool = False,
    ) -> bool:
        """Insert under the byte cap, evicting least-recently-used
        entries first. A single bucket larger than the whole cap is
        still cached alone (the cap bounds the steady state; refusing
        it would re-decode on every request).

        ``no_evict=True`` (hot-bucket admission) enforces the
        "admission never evicts" invariant at the only point where the
        ACTUAL decoded size is known: ``_note_point_read``'s headroom
        pre-check uses the fold-maintained per-row estimate, which can
        undershoot on long path text, and two concurrent admissions can
        both pass it against the same headroom. If the entry no longer
        fits without eviction, the insert is dropped (returns False) —
        the caller already has the decoded answer, and the bucket
        re-earns admission once headroom appears."""
        est = self._entry_bytes(rows)
        with self._lock:
            # Every full decode measures the bucket's true decoded
            # footprint — remember it (with the parquet size it was
            # measured at) so future admission estimates can correct
            # the EST_MIN_DECODE_RATIO floor downward (ADVICE r11).
            self._measured_bytes[fname] = (sig[2], est)
            old = self._cache.pop(fname, None)
            if old is not None:
                self._cache_bytes -= old[3]
            if no_evict and self._cache_bytes + est > self.max_cache_bytes:
                return False
            while self._cache and self._cache_bytes + est > self.max_cache_bytes:
                _, evicted = self._cache.popitem(last=False)
                self._cache_bytes -= evicted[3]
                self._stats["evictions"] += 1
            self._cache[fname] = (sig, rows, kids, est)
            self._cache_bytes += est
            return True

    # -- state access ---------------------------------------------------

    def version(self) -> int:
        from pufs_spark.streaming.mirror import mirror_version

        return mirror_version(self.mirror_dir)

    def snapshot(self) -> "MirrorSnapshot":
        """A consistent view of the CURRENT state: one meta read pins
        (version, state dir, n_buckets, summary, per-bucket totals)
        for the request's lifetime. A state in an old format raises
        MirrorFormatError."""
        from pufs_spark.streaming import mirror as M

        v, state_dir, n_buckets, summary, totals = M._resolve_state_ex(
            self.mirror_dir
        )
        if v < 0:
            raise E.NotFoundError(f"no mirror state in {self.mirror_dir}")
        with self._lock:
            if v >= self._latest_version:
                self._latest_version = v
                self._latest_state_dir = state_dir
        return MirrorSnapshot(self, v, state_dir, n_buckets, summary, totals)

    def _bucket_entry(
        self, state_dir: str, fname: str, no_evict: bool = False,
    ) -> tuple[dict, dict]:
        import os as _os

        import pyarrow.parquet as pq

        f = _os.path.join(state_dir, fname)
        try:
            st = _os.stat(f)
        except FileNotFoundError:
            if not _os.path.isdir(state_dir):
                raise  # state dir pruned mid-request: retryable, not empty
            self._drop_cached(fname, state_dir)
            return {}, {}  # empty buckets have no file
        sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        hit = self._cache_hit(fname, sig, state_dir)
        if hit is not None:
            return hit
        # pq.read_table may still hit FileNotFoundError/OSError if the
        # dir is pruned between the stat and here — it propagates as
        # OSError and MirrorService retries against a fresh snapshot.
        import time as _time

        _t0 = _time.perf_counter()
        t = pq.read_table(f)
        rows: dict = {}
        kids: dict = {}
        for p, d, s, b in zip(
            t["path"].to_pylist(),
            t["is_dir"].to_pylist(),
            t["size"].to_pylist(),
            t["bid"].to_pylist(),
        ):
            row = (d, s, b)
            rows[p] = row
            if p != "/":
                parent, _, name = p.rpartition("/")
                kids.setdefault(parent or "/", []).append((name, row))
        self._note_decode_cost(len(rows), _time.perf_counter() - _t0)
        with self._lock:
            self._stats["decodes"] += 1
        inserted = self._cache_put(fname, sig, rows, kids, no_evict=no_evict)
        if no_evict:
            if inserted:
                # The admission is only real once the insert landed
                # (ADVICE r11: counting it in _note_point_read let a
                # dropped no_evict put skew the stats).
                with self._lock:
                    self._stats["admissions"] += 1
            else:
                # Admission passed the ESTIMATE-based headroom
                # pre-check but the ACTUAL decoded size didn't fit:
                # _note_point_read already consumed the bucket's earned
                # frequency counter, so without this restore a
                # still-hot bucket restarts earning from zero (up to
                # POINT_ADMIT_CEIL more filtered reads). Restore it at
                # POINT_ADMIT_CEIL — the ceiling of every possible
                # threshold — because the next access recomputes `need`
                # from whichever estimate it resolves AND from the
                # live-measured costs (the decode just memoized the
                # actual size, a raced fold can change it, and the
                # point-cost EWMA drifts between accesses): re-admit-
                # on-first-access must hold under all of them, and
                # POINT_ADMIT_CEIL — the same bound _note_point_read
                # clamps at — keeps the counter finite under any drift.
                with self._lock:
                    self._point_freq[fname] = self.POINT_ADMIT_CEIL
        return rows, kids

    def _stat_sig(self, f: str):
        import os as _os

        try:
            st = _os.stat(f)
        except FileNotFoundError:
            return None
        return (st.st_ino, st.st_mtime_ns, st.st_size)

    def _drop_cached(self, fname: str, state_dir: str | None = None) -> None:
        """Evict a resident whose bucket FILE is gone at the caller's
        snapshot (the fold emptied the bucket, so no file was written).
        The entry is unreachable there — its signature can never match
        a missing file — but left resident it would occupy cap that
        the never-evict admission rule cannot reclaim, letting
        emptied-out buckets starve future admissions.

        Only honored when the caller's ``state_dir`` is the NEWEST
        state any snapshot of this store has resolved: a reader pinned
        to the PREVIOUS state may see the bucket empty while the
        current state repopulated it, and dropping the valid current
        resident would cost a full admission re-earn (up to
        POINT_ADMIT_CEIL point reads) plus a multi-second decode — not
        the "at worst re-decodes" a plain eviction costs. A skipped
        drop is a bounded leak: the next current-state reader of the
        genuinely-empty bucket performs it."""
        with self._lock:
            if (
                state_dir is not None
                and self._latest_state_dir is not None
                and state_dir != self._latest_state_dir
            ):
                return
            old = self._cache.pop(fname, None)
            if old is not None:
                self._cache_bytes -= old[3]
                self._stats["evictions"] += 1


    def _cache_hit(
        self, fname: str, sig, state_dir: str | None = None,
    ) -> tuple[dict, dict] | None:
        """Cached (rows, kids) for ``fname`` at exactly ``sig`` — or,
        when the resident entry is one fold BEHIND ``sig`` and the
        state dir carries a delta sidecar chaining the two signatures,
        the entry PATCHED forward in place (O(batch) dict ops). Without
        the patch, every fold re-invalidated every resident bucket it
        touched: at the 10M/64-bucket shape each hot bucket then paid a
        fresh ~190-point-read admission re-earn plus a ~2 s decode per
        fold, which is the whole gap between 940 qps quiescent and
        ~26 qps under live folds (r10 bench). A miss here (no sidecar,
        over-cap delta, entry more than one fold behind) falls back to
        the ordinary reload paths."""
        with self._lock:
            hit = self._cache.get(fname)
            if hit is not None and hit[0] == sig:
                self._cache.move_to_end(fname)
                self._stats["hits"] += 1
                return hit[1], hit[2]
        if hit is None or state_dir is None:
            return None
        return self._patch_hit(state_dir, fname, sig)

    def _load_delta(self, state_dir: str) -> tuple | None:
        """Parsed delta sidecar for ``state_dir`` as
        (prev_state_dirname | None, entries) — None when absent.
        Cached by the sidecar file's signature. Parsing happens outside
        the lock — a racing double-parse is harmless."""
        import os as _os

        from pufs_spark.streaming import mirror as M

        f = _os.path.join(state_dir, M.DELTA_FILE)
        try:
            st = _os.stat(f)
        except (FileNotFoundError, NotADirectoryError):
            return None
        sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        with self._lock:
            hit = self._delta_cache.get(f)
            if hit is not None and hit[0] == sig:
                return hit[1]
        try:
            with open(f) as fh:
                raw = json.load(fh)
            entries = {
                fname: (
                    tuple(e["prev_sig"]),
                    tuple(e["new_sig"]),
                    # tuple(r) verbatim: JSON round-trips bool/int/None
                    # exactly, and coercing (e.g. bool(None)) would
                    # diverge from what a fresh decode of the same
                    # file yields
                    {p: tuple(r) for p, r in e["upserts"].items()},
                    list(e["deletes"]),
                )
                for fname, e in raw.get("entries", {}).items()
            }
            parsed = (raw.get("prev_state_dirname"), entries)
        except (OSError, ValueError, KeyError, TypeError, AttributeError):
            # Pruned/torn mid-read, valid-JSON corruption, or a sidecar
            # written by a newer/older writer with a changed entry
            # schema: patching is OPTIONAL — treat exactly like an
            # absent sidecar (callers fall back to reload) instead of
            # raising in the request path.
            return None
        with self._lock:
            self._delta_cache[f] = (sig, parsed)
            while len(self._delta_cache) > 4:
                self._delta_cache.pop(next(iter(self._delta_cache)))
        return parsed

    def _patch_hit(
        self, state_dir: str, fname: str, sig,
    ) -> tuple[dict, dict] | None:
        """Apply one fold's net delta to a stale resident bucket. The
        patch is copy-on-write (fresh rows dict, fresh lists for the
        touched kids entries) so readers still iterating the PREVIOUS
        snapshot's dicts never see a mutation; est accounting mirrors
        ``_entry_bytes`` exactly (+/- 300 + 2*len(path) per net
        insert/delete). A straddling reader that decodes the previous
        state file afterwards re-caches the OLD version — the next
        new-snapshot access just patches it forward again (the sidecar
        stays on disk), so the regression self-heals."""
        import os as _os

        loaded = self._load_delta(state_dir)
        ent = None if loaded is None else loaded[1].get(fname)
        if ent is None or ent[1] != sig:
            return None
        steps = [ent]
        with self._lock:
            cur = self._cache.get(fname)
            cached_sig = None if cur is None else cur[0]
        if cur is None:
            return None
        if cached_sig not in (sig, ent[0]) and loaded[0]:
            # Exactly TWO folds behind: the previous state dir (kept
            # for in-flight readers until the NEXT fold prunes it)
            # still carries its own sidecar — chain it in front. Three
            # or more behind means that dir is pruned and the chain
            # can't resolve: full reload. Resolved OUTSIDE the lock
            # (sidecar I/O); the signatures are re-verified under the
            # lock before anything is applied.
            prev_loaded = self._load_delta(
                _os.path.join(_os.path.dirname(state_dir), loaded[0])
            )
            pent = None if prev_loaded is None else prev_loaded[1].get(fname)
            if pent is not None and pent[1] == ent[0]:
                steps = [pent, ent]
        with self._lock:
            cur = self._cache.get(fname)
            if cur is None:
                return None
            if cur[0] == sig:  # raced with another patcher: done
                self._cache.move_to_end(fname)
                self._stats["hits"] += 1
                return cur[1], cur[2]
            if cur[0] != steps[0][0]:
                return None  # chain doesn't reach the resident: reload
            rows = dict(cur[1])
            kids = dict(cur[2])
            est = cur[3]
            for _psig, _nsig, ups, dels in steps:
                est = self._apply_delta(rows, kids, est, ups, dels)
            self._cache[fname] = (sig, rows, kids, est)
            self._cache.move_to_end(fname)
            self._cache_bytes += est - cur[3]
            self._stats["patches"] += 1
            # a growing patch can push past the cap: evict LRU entries
            # (never the just-patched one — it was moved to the end)
            while (
                self._cache_bytes > self.max_cache_bytes
                and len(self._cache) > 1
            ):
                _, ev = self._cache.popitem(last=False)
                self._cache_bytes -= ev[3]
                self._stats["evictions"] += 1
            return rows, kids

    @staticmethod
    def _apply_delta(rows: dict, kids: dict, est: int,
                     ups: dict, dels: list) -> int:
        """Apply one step's net upserts/deletes to (rows, kids) in
        place, returning the adjusted est. Group ops by parent, then
        rebuild each touched parent's kids list in ONE pass
        (copy-on-write: the old list stays intact for previous-
        snapshot readers). Per-op linear scans would make a
        delete-heavy delta on a large parent O(ops × children) — a
        16k-row delete under a 150k-child dir is minutes of lock
        hold; this is O(children + ops)."""
        del_names: dict[str, set] = {}
        up_names: dict[str, dict] = {}
        for p in dels:
            if rows.pop(p, None) is None:
                continue
            est -= 300 + 2 * len(p)
            if p != "/":
                parent, _, name = p.rpartition("/")
                del_names.setdefault(parent or "/", set()).add(name)
        for p, row in ups.items():
            old = rows.get(p)
            rows[p] = row
            if old is None:
                est += 300 + 2 * len(p)
            if p != "/":
                parent, _, name = p.rpartition("/")
                up_names.setdefault(parent or "/", {})[name] = row
        for parent in set(del_names) | set(up_names):
            dn = del_names.get(parent, ())
            un = up_names.get(parent, {})
            lst = [
                kv for kv in kids.get(parent, ())
                if kv[0] not in dn and kv[0] not in un
            ]
            lst.extend(un.items())
            kids[parent] = lst
        return est

    def _admit_threshold(self, est: int) -> int:
        """Point reads a bucket must accrue before its decode is worth
        paying: estimated decode wall over one filtered-read wall,
        clamped to [POINT_ADMIT_AFTER, POINT_ADMIT_CEIL]. Both costs
        use the store's LIVE measurements when available (every real
        decode / filtered read feeds an EWMA; ``calibrate()`` seeds
        them at init) — the class constants are only the never-
        measured fallback, so the break-even moves with the box."""
        rows = est / (self.EST_DECODED_BYTES_PER_ROW or 1)
        breakeven = rows * self.decode_us_per_row() / 1000.0 \
            / self.point_read_cost_ms()
        return max(
            self.POINT_ADMIT_AFTER,
            min(self.POINT_ADMIT_CEIL, int(breakeven)),
        )

    def _admission_est(self, fname: str, sig, admit_est: int) -> int:
        """The decoded-size estimate admission checks against headroom.

        Preference order (ADVICE r11): (1) the bucket's own measured
        decoded footprint from its last full decode, scaled by the
        current/measured parquet-size ratio — self-correcting in both
        directions, so a bucket whose real decode ratio sits below the
        EST_MIN_DECODE_RATIO floor is no longer permanently barred from
        a cache it fits; (2) the fold-maintained per-row estimate
        (``admit_est``), floored at parquet size × EST_MIN_DECODE_RATIO
        so a stale or corrupted tiny estimate on a never-measured giant
        bucket can't stall the request thread on a hopeless decode."""
        m = self._measured_bytes.get(fname)
        if m is not None and m[0] > 0:
            return max(1, int(m[1] * sig[2] / m[0]))
        return max(admit_est, int(sig[2] * self.EST_MIN_DECODE_RATIO))

    def _note_point_read(self, fname: str, est: int) -> bool:
        """Record one point read against ``fname``; True = admit the
        bucket into the LRU now (hot enough to amortize its own decode
        AND it fits the current headroom). Counts are clamped at
        POINT_ADMIT_CEIL — the ceiling of every possible threshold —
        NOT at this access's ``need``: with live-measured costs the
        threshold drifts between accesses (cheaper point reads push
        the break-even up), and a down-clamp to a smaller earlier
        ``need`` would erase earned credit and break the promise that
        a hot-but-unadmittable bucket admits on its first access after
        headroom appears (e.g. post-fold shrink). Counts halve every
        POINT_FREQ_WINDOW accesses, so stale heat still decays."""
        need = self._admit_threshold(est)
        with self._lock:
            self._point_accesses += 1
            if self._point_accesses >= self.POINT_FREQ_WINDOW:
                self._point_accesses = 0
                self._point_freq = {
                    k: v // 2 for k, v in self._point_freq.items() if v >= 2
                }
            c = min(
                self._point_freq.get(fname, 0) + 1, self.POINT_ADMIT_CEIL
            )
            self._point_freq[fname] = c
            if c < need:
                return False
            if self._cache_bytes + est > self.max_cache_bytes:
                return False  # admission must never evict
            # The admissions stat is NOT counted here: the insert can
            # still be dropped by _cache_put's actual-size re-check
            # (_bucket_entry counts it on the known outcome — ADVICE
            # r11: a failed no_evict put must not skew the
            # hit/decode/admission mix the bench records).
            del self._point_freq[fname]
            return True

    def _point_lookup(
        self, state_dir: str, fname: str, path: str,
        point_reads: bool, admit_est: int,
    ):
        """One path's (is_dir, size, bid) or None. Cached bucket →
        dict hit; uncached under ``point_reads`` (the snapshot's
        decoded-state-exceeds-cap flag) → FILTERED parquet read
        (row-group pruned — bucket files are path-sorted — and no
        cache insert, so a scan-shaped miss can't evict hot entries)
        unless the bucket has proven hot and fits the free headroom
        (``_note_point_read`` admission → decode-and-cache once,
        warm-dict speed after); otherwise uncached → decode-and-cache.
        ``admit_est`` is the bucket's estimated decoded size from the
        fold-maintained totals."""
        import os as _os

        import pyarrow.parquet as pq

        f = _os.path.join(state_dir, fname)
        sig = self._stat_sig(f)
        if sig is None:
            if not _os.path.isdir(state_dir):
                raise FileNotFoundError(state_dir)  # pruned: retryable
            self._drop_cached(fname, state_dir)
            return None  # empty bucket has no file
        hit = self._cache_hit(fname, sig, state_dir)
        if hit is not None:
            return hit[0].get(path)
        if point_reads:
            est = self._admission_est(fname, sig, admit_est)
            if self._note_point_read(fname, est):
                return self._bucket_entry(
                    state_dir, fname, no_evict=True
                )[0].get(path)
            with self._lock:
                self._stats["point_reads"] += 1
            import time as _time

            _t0 = _time.perf_counter()
            t = pq.read_table(f, filters=[("path", "==", path)])
            self._note_point_cost(_time.perf_counter() - _t0)
            if t.num_rows == 0:
                return None
            return (
                bool(t["is_dir"][0].as_py()),
                t["size"][0].as_py(),
                t["bid"][0].as_py(),
            )
        return self._bucket_entry(state_dir, fname)[0].get(path)

    def _dir_children(
        self, state_dir: str, fname: str, parent: str,
        point_reads: bool, admit_est: int,
    ) -> list[tuple[str, tuple]]:
        """One bucket's direct children of ``parent``. Cached → kids
        index; uncached under ``point_reads`` → prefix-range filtered
        read (the subtree shares the ``parent + '/'`` prefix; '0' is
        the successor byte of '/'), with the same hot-bucket admission
        as ``_point_lookup``; otherwise uncached → decode-and-cache."""
        import os as _os

        import pyarrow.parquet as pq

        f = _os.path.join(state_dir, fname)
        sig = self._stat_sig(f)
        if sig is None:
            if not _os.path.isdir(state_dir):
                raise FileNotFoundError(state_dir)
            self._drop_cached(fname, state_dir)
            return []
        hit = self._cache_hit(fname, sig, state_dir)
        if hit is not None:
            return list(hit[1].get(parent, ()))
        if point_reads:
            est = self._admission_est(fname, sig, admit_est)
            if self._note_point_read(fname, est):
                return list(
                    self._bucket_entry(
                        state_dir, fname, no_evict=True
                    )[1].get(parent, ())
                )
            lo = "/" if parent == "/" else parent + "/"
            hi = "0" if parent == "/" else parent + "0"
            with self._lock:
                self._stats["point_reads"] += 1
            import time as _time

            _t0 = _time.perf_counter()
            t = pq.read_table(
                f, filters=[("path", ">=", lo), ("path", "<", hi)]
            )
            self._note_point_cost(_time.perf_counter() - _t0)
            out = []
            for p, d, s, b in zip(
                t["path"].to_pylist(),
                t["is_dir"].to_pylist(),
                t["size"].to_pylist(),
                t["bid"].to_pylist(),
            ):
                par, _, name = p.rpartition("/")
                if (par or "/") == parent and name:
                    out.append((name, (d, s, b)))
            return out
        return list(self._bucket_entry(state_dir, fname)[1].get(parent, ()))

    def _dir_children_multi(
        self, state_dir: str, fnames: list[str], parent: str,
        point_reads: bool,
    ) -> list[tuple[str, tuple]]:
        """Direct children of ``parent`` across MANY buckets (depth-1
        listings: the dir's children spread over every bucket its
        top-group summary names). Cached buckets answer from their
        kids index; outside ``point_reads`` uncached ones
        decode-and-cache; under it, all uncached buckets are served
        by ONE pyarrow.dataset scan with the prefix-range filter —
        row-group-pruned like the per-bucket path, but parallel
        across files in Arrow's C++ thread pool with the GIL
        released. The first 10M run paid 64 SEQUENTIAL filtered
        reads (plus inline admission decodes) per root-adjacent
        listing — p50 20.6 s quiescent; one batched scan is the
        plan a distributed engine would pick (scan + filter over a
        file set), expressed at the serving layer.

        No admission counting here: a depth-1 listing touching 64
        buckets says nothing about any single bucket's heat, and the
        batched scan already amortizes the per-file cost."""
        import os as _os

        import pyarrow.dataset as _ds

        out: list[tuple[str, tuple]] = []
        batch: list[str] = []
        for fname in fnames:
            f = _os.path.join(state_dir, fname)
            sig = self._stat_sig(f)
            if sig is None:
                if not _os.path.isdir(state_dir):
                    raise FileNotFoundError(state_dir)
                self._drop_cached(fname, state_dir)
                continue
            hit = self._cache_hit(fname, sig, state_dir)
            if hit is not None:
                out.extend(hit[1].get(parent, ()))
                continue
            if point_reads:
                batch.append(f)
            else:
                out.extend(
                    self._bucket_entry(state_dir, fname)[1].get(parent, ())
                )
        if batch:
            lo = "/" if parent == "/" else parent + "/"
            hi = "0" if parent == "/" else parent + "0"
            with self._lock:
                self._stats["point_reads"] += len(batch)
            t = _ds.dataset(batch, format="parquet").to_table(
                filter=(_ds.field("path") >= lo) & (_ds.field("path") < hi)
            )
            for p, d, s, b in zip(
                t["path"].to_pylist(),
                t["is_dir"].to_pylist(),
                t["size"].to_pylist(),
                t["bid"].to_pylist(),
            ):
                par, _, name = p.rpartition("/")
                if (par or "/") == parent and name:
                    out.append((name, (d, s, b)))
        return out

    def _root_entries(self, state_dir: str) -> list[tuple[str, tuple]]:
        """The root listing from the state dir's rootdir sidecar —
        fold-maintained depth-1 entries, so "/" never faults in data
        buckets. A sidecar missing because the state dir was pruned
        under the reader raises FileNotFoundError (MirrorService
        retries). Cached by the sidecar file's signature; at most
        {current, previous} state dirs exist, so the cache is pruned
        to the 4 most recent keys."""
        import os as _os

        from pufs_spark.streaming import mirror as M

        f = _os.path.join(state_dir, M.ROOTDIR_FILE)
        st = _os.stat(f)
        sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        with self._lock:
            hit = self._rootdir_cache.get(f)
            if hit is not None and hit[0] == sig:
                return hit[1]
        per_bucket = M._read_rootdir(state_dir)
        out = sorted(
            (name, (bool(d), s, b))
            for kids in per_bucket.values()
            for name, (d, s, b) in kids.items()
        )
        with self._lock:
            self._rootdir_cache[f] = (sig, out)
            while len(self._rootdir_cache) > 4:
                self._rootdir_cache.pop(next(iter(self._rootdir_cache)))
        return out

    # -- back-compat conveniences (each resolves a fresh snapshot) ------

    def lookup(self, path: str) -> tuple:
        return self.snapshot().lookup(path)

    def list_dir(self, path: str) -> list[tuple[str, tuple]]:
        return self.snapshot().list_dir(path)

    def stat_totals(self) -> dict:
        return self.snapshot().stat_totals()


class MirrorSnapshot:
    """One request's pinned view over a MirrorStore (see
    ``MirrorStore.snapshot``). Bucket row caches are shared with the
    store — the snapshot pins WHICH files are read, the store
    remembers what they contained."""

    def __init__(self, store: MirrorStore, version: int, state_dir: str,
                 n_buckets: int, summary: dict[int, int],
                 totals: dict[int, tuple]):
        self.store = store
        self.version = version
        self.state_dir = state_dir
        self.n_buckets = n_buckets
        self.summary = summary
        self.totals = totals
        # Decoded-state-exceeds-cap: caching would thrash (every miss
        # evicts another bucket's hot entries), so misses take the
        # filtered-read path instead. Computed from the meta this
        # snapshot already read — no extra I/O per request.
        self.point_reads = (
            store.EST_DECODED_BYTES_PER_ROW
            * sum(t[0] for t in totals.values())
            > store.max_cache_bytes
        )

    def _fname_for(self, path: str) -> str:
        from pufs_spark.streaming import mirror as M

        return f"bucket-{M._bucket(path, self.n_buckets):04d}.parquet"

    def _admit_est(self, fname: str) -> int:
        """Estimated decoded bytes of one bucket from the
        fold-maintained per-bucket node totals — what hot-bucket
        admission checks against the cache headroom."""
        t = self.totals.get(int(fname[7:11]))
        return (
            0 if t is None
            else self.store.EST_DECODED_BYTES_PER_ROW * int(t[0])
        )

    def lookup(self, path: str) -> tuple:
        """(is_dir, size, bid) or NotFoundError. One bucket touched —
        and in point-read mode, only the row group(s) holding the
        path (MirrorStore._point_lookup)."""
        fname = self._fname_for(path)
        row = self.store._point_lookup(
            self.state_dir, fname, path,
            self.point_reads, self._admit_est(fname),
        )
        if row is None:
            raise E.NotFoundError(path)
        return row

    def list_dir(self, path: str) -> list[tuple[str, tuple]]:
        """[(name, (is_dir, size, bid))] for the directory's direct
        children, read from the per-bucket children index (O(result),
        no row scan) — or, in point-read mode for an uncached bucket,
        a prefix-range filtered parquet read (MirrorStore._dir_children;
        one batched, Arrow-parallel dataset scan when the children
        span several buckets — _dir_children_multi).
        A dir at depth ≥ BUCKET_DEPTH lists from ONE bucket (the
        subtree shares its key prefix); a depth-1 dir lists from the
        buckets its top-group summary names; the root reads the
        fold-maintained rootdir sidecar and touches no data bucket."""
        from pufs_spark.streaming import mirror as M

        norm = path.rstrip("/") or "/"
        if norm == "/":
            # fold-maintained depth-1 entries: zero data-bucket reads
            # (VERDICT r8 finding 1 — an every-bucket sweep both cost
            # thousands of parquet reads at the 10M-inode cap AND
            # evicted the hot lookup buckets from the byte-capped LRU)
            return list(self.store._root_entries(self.state_dir))
        fname = self._fname_for(norm)
        row = self.store._point_lookup(
            self.state_dir, fname, norm,
            self.point_reads, self._admit_est(fname),
        )
        if row is None:
            raise E.NotFoundError(norm)
        if not row[0]:  # a file: same error the DataStore raises
            raise E.NotDirError(norm)
        depth = len([c for c in norm.strip("/").split("/") if c])
        if depth < M.BUCKET_DEPTH:
            buckets = [
                f"bucket-{b:04d}.parquet"
                for b in sorted(
                    M._buckets_for_top(norm, self.n_buckets, self.summary)
                )
            ]
        else:
            buckets = [fname]
        if len(buckets) > 1:
            # depth-1: one batched dataset scan over every point-read
            # bucket instead of N sequential filtered reads (see
            # _dir_children_multi)
            return sorted(
                self.store._dir_children_multi(
                    self.state_dir, buckets, norm, self.point_reads,
                )
            )
        return sorted(
            self.store._dir_children(
                self.state_dir, buckets[0], norm,
                self.point_reads, self._admit_est(buckets[0]),
            )
        )

    def stat_totals(self) -> dict:
        """Catalog totals from the fold-maintained per-bucket totals in
        the meta — zero bucket files touched, O(n_buckets) addition."""
        nodes = dirs = files = nbytes = 0
        for n, d, f, by in self.totals.values():
            nodes += n
            dirs += d
            files += f
            nbytes += by
        return {"nodes": nodes, "dirs": dirs, "files": files,
                "bytes": nbytes}


class MirrorService:
    """The S12 service surface served from a catalog MIRROR instead of
    a live DataStore: same ops, same proto field names, plus a
    ``mirrorVersion`` staleness bound in every response (the last
    commit-log version the mirror has applied — a client comparing it
    to ``CommitLog.current_version()`` knows exactly how far behind the
    read path is). Read-only by construction; ``read`` serves block
    bytes straight from a CAS directory when one is provided (frozen
    files only — the mirror carries bids, not writer-local paths).

    Field mapping vs PufsService: the CDC feed (and therefore the
    mirror) deliberately carries the publication-relevant projection —
    path, kind, size, bid — not writer-local inode numbers or mtimes
    ("hold paths, not inodes" is the commit-log contract), so ``id``
    and ``modTimeSeconds`` are 0 and ``isDirty`` is derived (a file
    without a bid is unfrozen)."""

    def __init__(self, store: MirrorStore, cas=None):
        self.store = store
        self.cas = cas

    def _entry(self, name: str, row: tuple) -> dict:
        is_dir, size, bid = row
        return {
            "id": 0,
            "name": name,
            "isDirty": bool(not is_dir and not bid),
            "isDir": bool(is_dir),
            "size": size or 0,
            "modTimeSeconds": 0,
            "blockId": bid or "",
            "populatedRegionCount": 0,
            "populatedSize": 0,
        }

    def handle(self, req: dict) -> dict:
        # One snapshot per request: mirrorVersion is the version the
        # answer's data actually came from, not a value read before the
        # op ran. A snapshot survives one concurrent fold (previous
        # state dir is kept); a request slow enough that TWO folds
        # complete under it gets its state dir pruned → OSError → one
        # retry on a fresh snapshot, then an in-band errorMsg (the
        # transport never sees an exception, per the proto contract).
        for attempt in (0, 1):
            try:
                return self._dispatch(req, self.store.snapshot())
            except E.CatalogError as exc:
                return {"errorMsg": f"{type(exc).__name__}: {exc}"}
            except KeyError as exc:
                return {"errorMsg": f"missing field {exc}"}
            except OSError as exc:
                if attempt:
                    return {"errorMsg": f"{type(exc).__name__}: {exc}"}

    def _dispatch(self, req: dict, snap: MirrorSnapshot) -> dict:
        op = req.get("op")
        v = snap.version
        if op == "get_dir_contents":
            entries = [
                self._entry(n, r) for n, r in snap.list_dir(req["path"])
            ]
            return {"entries": entries, "errorMsg": "", "mirrorVersion": v}
        if op == "getattr":
            is_dir, size, bid = snap.lookup(req["path"])
            return {
                **self._entry(req["path"].rstrip("/").rpartition("/")[2], (is_dir, size, bid)),
                "errorMsg": "",
                "mirrorVersion": v,
            }
        if op == "resolve":
            snap.lookup(req["path"])  # existence check
            return {"id": 0, "errorMsg": "", "mirrorVersion": v}
        if op == "read":
            return self._read(
                req["path"], req.get("offset", 0), req.get("length"), snap
            )
        if op == "stat":
            return {
                **snap.stat_totals(),
                "errorMsg": "",
                "mirrorVersion": v,
            }
        if op == "cache_stats":
            # Mirror-only observability op (the store-backed service
            # has no cache): the hit/patch/decode/point-read mix tells
            # an operator whether the cache is working, thrashing, or
            # being outpaced by folds — per process. ``pid`` identifies
            # WHICH fleet worker answered: connections stick to one
            # worker by SO_REUSEPORT 4-tuple hash, so a fleet client
            # polls fresh connections and de-duplicates by pid until it
            # has seen every worker (bench_serving does exactly this).
            import os as _os

            return {
                **self.store.stats(),
                "cachedBytes": self.store.cached_bytes(),
                "capBytes": self.store.max_cache_bytes,
                "pid": _os.getpid(),
                "errorMsg": "",
                "mirrorVersion": v,
            }
        return {"errorMsg": f"unknown op {op!r}", "mirrorVersion": v}

    def _read(self, path: str, offset: int, length, snap: MirrorSnapshot) -> dict:
        v = snap.version
        if self.cas is None:
            return {"errorMsg": "read not served: no CAS configured"}
        is_dir, _size, bid = snap.lookup(path)
        if is_dir:
            return {"errorMsg": f"IsADirectoryError: {path}"}
        if not bid:
            return {"errorMsg": f"NotFoundError: {path} has no block (unfrozen)"}
        try:
            data = self.cas.read(bid, offset=offset, length=length)
        except FileNotFoundError:
            # in-band, like every other error: the mirror can be ahead
            # of a CAS replica that hasn't pulled the block yet
            return {"errorMsg": f"NotFoundError: block {bid} not in CAS"}
        return {
            "data": base64.b64encode(data).decode(),
            "n": len(data),
            "errorMsg": "",
            "mirrorVersion": v,
        }


class _Handler(socketserver.StreamRequestHandler):
    # request/response pairs are single small writes each way — without
    # this, Nagle + delayed-ACK adds ~10-40ms per round trip (measured:
    # ~10ms p50 at 4 clients vs sub-ms with it off)
    disable_nagle_algorithm = True

    def handle(self):  # one connection, many requests (like a channel)
        while True:
            line = self.rfile.readline()
            if not line:
                return
            try:
                req = _loads(line)
            except ValueError as exc:
                resp = {"errorMsg": f"bad request: {exc}"}
            else:
                resp = self.server.service.handle(req)
            self.wfile.write(_dumps(resp) + b"\n")
            self.wfile.flush()


class PufsServer(socketserver.ThreadingTCPServer):
    """``serve(store)`` → (server, port); call ``shutdown()`` to stop."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, service: PufsService, host: str = "127.0.0.1",
                 port: int = 0):
        super().__init__((host, port), _Handler)
        self.service = service


def serve(
    store: DataStore, region_stats=None, host: str = "127.0.0.1",
    port: int = 0,
) -> tuple[PufsServer, int]:
    """Start serving ``store`` on a background thread; returns the
    server and its bound port (``port=0`` picks a free one)."""
    server = PufsServer(PufsService(store, region_stats), host, port)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, server.server_address[1]


def serve_mirror(
    mirror_dir: str, cas=None, host: str = "127.0.0.1", port: int = 0,
    max_cache_bytes: int | None = None,
) -> tuple[PufsServer, int]:
    """Serve the S12 surface from a streaming catalog mirror — the
    read path decoupled from the single-writer driver (see
    MirrorService). ``cas`` (a sources.cas.Freezer) additionally
    enables ranged ``read`` of frozen blocks. ``max_cache_bytes``
    bounds the decoded-bucket LRU (default MirrorStore 1 GiB) so the
    server's memory is O(cap), not O(catalog). The store calibrates at
    start (one smallest-bucket decode + one filtered read, bounded
    ms), seeding the admission-cost EWMAs from THIS box's storage
    instead of the class-constant defaults."""
    server = PufsServer(
        MirrorService(
            MirrorStore(mirror_dir, max_cache_bytes, calibrate=True),
            cas,
        ),
        host, port,
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, server.server_address[1]


class _ReuseportServer(PufsServer):
    """A PufsServer that joins an SO_REUSEPORT group: N processes each
    bind their OWN listener on the same (host, port) and the kernel
    load-balances incoming connections across them. This is the
    available scale-out past the line protocol's per-process GIL
    ceiling (ROADMAP weak spot 5) while grpcio stays env-blocked: the
    mirror read path is plain files + per-process bounded caches, so
    processes share nothing and compose with ``max_cache_bytes``."""

    def server_bind(self):
        self.socket.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
        super().server_bind()


def _fleet_worker(mirror_dir, host, port, max_cache_bytes, cas_factory, q):
    """One fleet process: its own MirrorStore (own cache), its own
    listener in the port's SO_REUSEPORT group. Reports ('ok', port) or
    ('err', reason) once, then serves forever (parent terminates it)."""
    try:
        cas = cas_factory() if cas_factory is not None else None
        server = _ReuseportServer(
            MirrorService(
                MirrorStore(mirror_dir, max_cache_bytes, calibrate=True),
                cas,
            ),
            host, port,
        )
    except Exception as exc:  # report, don't hang the parent's q.get
        q.put(("err", repr(exc)))
        raise
    q.put(("ok", server.server_address[1]))
    server.serve_forever()


class MirrorFleet:
    """Handle over the fleet's worker processes. A worker dying only
    sheds ITS live connections — the kernel drops its listener from
    the reuseport group and new connections land on survivors."""

    def __init__(self, procs, port: int):
        self.procs = procs
        self.port = port

    def alive(self) -> int:
        return sum(1 for p in self.procs if p.is_alive())

    def stop(self) -> None:
        for p in self.procs:
            p.terminate()
        for p in self.procs:
            p.join(timeout=10)


def serve_mirror_fleet(
    mirror_dir: str,
    n_procs: int = 4,
    cas_factory=None,
    host: str = "127.0.0.1",
    port: int = 0,
    max_cache_bytes: int | None = None,
    start_method: str = "fork",
) -> tuple[MirrorFleet, int]:
    """Serve the mirror from ``n_procs`` OS processes sharing one port
    via SO_REUSEPORT — the multi-process front that lifts the single
    interpreter's GIL ceiling (bench_serving's fleet phase measures
    the scaling). The first worker binds (``port=0`` picks a free
    one) and reports the concrete port; the rest join its reuseport
    group — no bind/steal race, the port is never released between
    workers. Each worker holds its own byte-capped bucket cache, so
    fleet memory is ``n_procs × max_cache_bytes`` worst case.

    ``cas_factory``: zero-arg callable built INSIDE each worker (a
    CAS handle may not survive a fork/pickle).

    ``start_method``: ``"fork"`` (default — accepts closure
    factories, instant startup) or ``"spawn"`` — fresh interpreters
    that import ``_fleet_worker`` by module path instead of
    inheriting the parent's whole address space. A driver that holds
    a live SparkSession should prefer spawn: forked children share
    the parent's py4j/JVM socket fds, and a worker crash-handler
    touching them corrupts the gateway. Spawn requires every arg to
    pickle by reference — a module-level ``cas_factory``
    (``functools.partial(Freezer, path)``), not a lambda."""
    import multiprocessing as mp

    ctx = mp.get_context(start_method)
    q = ctx.Queue()

    def _spawn(p):
        proc = ctx.Process(
            target=_fleet_worker,
            args=(mirror_dir, host, p, max_cache_bytes, cas_factory, q),
            daemon=True,
        )
        proc.start()
        return proc

    procs = [_spawn(port)]
    try:
        kind, val = q.get(timeout=60)
        if kind != "ok":
            raise RuntimeError(f"fleet worker failed to bind: {val}")
        bound = val
        procs.extend(_spawn(bound) for _ in range(n_procs - 1))
        for _ in range(n_procs - 1):
            kind, val = q.get(timeout=60)
            if kind != "ok":
                raise RuntimeError(f"fleet worker failed to bind: {val}")
    except Exception:
        for p in procs:
            p.terminate()
        raise
    return MirrorFleet(procs, bound), bound


class PufsClient:
    """Line-protocol client (the test double for a gRPC stub)."""

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rfile = self.sock.makefile("rb")

    def call(self, **req) -> dict:
        self.sock.sendall(_dumps(req) + b"\n")
        return _loads(self.rfile.readline())

    def get_dir_contents(self, path: str) -> dict:
        return self.call(op="get_dir_contents", path=path)

    def read_bytes(self, path: str, offset: int = 0,
                   length: int | None = None) -> bytes:
        resp = self.call(op="read", path=path, offset=offset,
                         length=length)
        if resp.get("errorMsg"):
            raise E.CatalogError(resp["errorMsg"])
        return base64.b64decode(resp["data"])

    def close(self):
        self.sock.close()
