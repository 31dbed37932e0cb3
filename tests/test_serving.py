"""S12 metadata service (pufs_spark/serving.py): the reference's gRPC
``GetDirContents`` shape (api/api.proto:4-28) spoken as JSON lines over
real TCP sockets — entries carry the proto field names, errors ride
in-band in ``errorMsg``."""

import json
import os
import threading

import pytest

from pufs_spark import serving
from pufs_spark.catalog.datastore import ROOT_INODE, DataStore
from pufs_spark.sources.sparse import SparseFreezer


def _decoded_rows(snap):
    """Every (path, row) of a snapshot's state, decoded bucket by
    bucket through its store's cache: the full-sweep oracle."""
    for fname in sorted(os.listdir(snap.state_dir)):
        if fname.startswith("bucket-"):
            yield from snap.store._bucket_entry(
                snap.state_dir, fname)[0].items()


def _point_mode_store(mdir):
    """A store whose cap sits one byte under the state's estimated
    decoded size: every cache miss takes the point-read path, while
    any single bucket still fits the cap (admission has headroom)."""
    totals = serving.MirrorStore(mdir).snapshot().totals
    est = serving.MirrorStore.EST_DECODED_BYTES_PER_ROW * sum(
        t[0] for t in totals.values())
    store = serving.MirrorStore(mdir, max_cache_bytes=est - 1)
    assert store.snapshot().point_reads
    return store


@pytest.fixture()
def served(tmp_path):
    store = DataStore(str(tmp_path))
    d = store.mkdir(ROOT_INODE, "docs")
    store.add_immutable_bytes(d, "a.txt", b"alpha contents")
    store.add_immutable_bytes(d, "b.bin", bytes(range(100)))
    store.mkdir(d, "sub")
    server, port = serving.serve(store)
    client = serving.PufsClient("127.0.0.1", port)
    yield store, client, port
    client.close()
    server.shutdown()


def test_get_dir_contents_proto_shape(served):
    store, client, _ = served
    resp = client.get_dir_contents("/docs")
    assert resp["errorMsg"] == ""
    by_name = {e["name"]: e for e in resp["entries"]}
    assert set(by_name) == {"a.txt", "b.bin", "sub"}
    a = by_name["a.txt"]
    # exact proto Entry field set (api/api.proto:10-24)
    assert set(a) == {
        "id", "name", "isDirty", "isDir", "size", "modTimeSeconds",
        "blockId", "populatedRegionCount", "populatedSize",
    }
    assert a["size"] == len(b"alpha contents")
    assert not a["isDir"] and by_name["sub"]["isDir"]
    assert a["blockId"]  # frozen at add time → bid present


def test_errors_are_in_band(served):
    _, client, _ = served
    assert "NotFoundError" in client.get_dir_contents("/nope")["errorMsg"]
    # listing a file is NotDirError, not a transport failure
    assert "NotDirError" in client.get_dir_contents("/docs/a.txt")["errorMsg"]
    assert "unknown op" in client.call(op="evil")["errorMsg"]


def test_ranged_read_and_getattr(served):
    _, client, _ = served
    assert client.read_bytes("/docs/a.txt") == b"alpha contents"
    assert client.read_bytes("/docs/b.bin", offset=10, length=5) == bytes(
        range(10, 15)
    )
    attrs = client.call(op="getattr", path="/docs/a.txt")
    assert attrs["size"] == 14 and attrs["mode"] == 0o444

    stat = client.call(op="stat")
    assert stat["files"] == 2 and stat["dirs"] == 3  # root, docs, sub


def test_populated_region_stats(tmp_path):
    """The proto's populatedRegionCount/populatedSize come from the
    sparse cache's region map when one backs the store."""
    store = DataStore(str(tmp_path))
    i = store.add_immutable_bytes(ROOT_INODE, "f", b"0123456789")
    bid = store.nodes[i].bid
    sfz = SparseFreezer(str(tmp_path / "sparse"))
    sfz.write_range(bid, 0, b"0123")
    sfz.write_range(bid, 8, b"89")
    server, port = serving.serve(store, region_stats=sfz.coverage)
    client = serving.PufsClient("127.0.0.1", port)
    try:
        (entry,) = client.get_dir_contents("/")["entries"]
        assert entry["populatedRegionCount"] == 2
        assert entry["populatedSize"] == 6
    finally:
        client.close()
        server.shutdown()


def test_concurrent_clients(served):
    _, _, port = served
    errs: list[Exception] = []

    def worker():
        try:
            c = serving.PufsClient("127.0.0.1", port)
            for _ in range(20):
                assert c.read_bytes("/docs/a.txt") == b"alpha contents"
                assert len(c.get_dir_contents("/docs")["entries"]) == 3
            c.close()
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    ts = [threading.Thread(target=worker) for _ in range(6)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []


@pytest.fixture()
def mirror_served(spark, tmp_path):
    """A commit-log catalog with frozen content, its streaming mirror,
    and a MirrorService speaking the same line protocol over TCP."""
    from pufs_spark.catalog import commitlog as CL
    from pufs_spark.sources.cas import Freezer
    from pufs_spark.streaming import mirror as M

    root = str(tmp_path / "cat")
    mdir = str(tmp_path / "mirror")
    ckpt = str(tmp_path / "ckpt")
    w, log = CL.open_log(root)
    d = w.mkdir(ROOT_INODE, "docs")
    w.add_immutable_bytes(d, "a.txt", b"alpha contents")
    w.add_immutable_bytes(d, "b.bin", bytes(range(100)))
    w.mkdir(d, "sub")
    log.commit(w)

    def refresh():
        q = M.start_catalog_mirror(spark, root, mdir, ckpt)
        q.awaitTermination(120)

    refresh()
    import os
    server, port = serving.serve_mirror(
        mdir, cas=Freezer(os.path.join(root, "freezer"))
    )
    client = serving.PufsClient("127.0.0.1", port)
    yield w, log, refresh, client
    client.close()
    server.shutdown()


def test_mirror_service_parity_and_staleness(mirror_served, tmp_path):
    """The mirror-backed read path answers the same surface as the
    store-backed service — names, kinds, sizes, blockIds, in-band
    errors — and every response carries the mirror's last-applied
    commit version as its staleness bound."""
    w, log, refresh, client = mirror_served

    resp = client.get_dir_contents("/docs")
    assert resp["errorMsg"] == ""
    assert resp["mirrorVersion"] == 0
    by_name = {e["name"]: e for e in resp["entries"]}
    assert set(by_name) == {"a.txt", "b.bin", "sub"}
    assert by_name["a.txt"]["size"] == 14 and not by_name["a.txt"]["isDir"]
    assert by_name["sub"]["isDir"]
    assert by_name["a.txt"]["blockId"]  # frozen eagerly at add time

    # root listing spans buckets
    root_names = {e["name"] for e in client.get_dir_contents("/")["entries"]}
    assert root_names == {"docs"}

    # in-band errors, same taxonomy as the store-backed service
    assert "NotFoundError" in client.get_dir_contents("/nope")["errorMsg"]
    assert "NotDirError" in client.get_dir_contents("/docs/a.txt")["errorMsg"]

    # ranged content read straight from the CAS by bid
    assert client.read_bytes("/docs/a.txt") == b"alpha contents"
    assert client.read_bytes("/docs/b.bin", offset=10, length=5) == bytes(
        range(10, 15)
    )

    # the mirror lags until refreshed — and the staleness bound says so
    d = w.resolve_path("/docs")
    w.add_immutable_bytes(d, "late.txt", b"late")
    log.commit(w)                                  # v1
    stale = client.get_dir_contents("/docs")
    assert stale["mirrorVersion"] == 0             # read path is behind
    assert "late.txt" not in {e["name"] for e in stale["entries"]}
    refresh()
    fresh = client.get_dir_contents("/docs")
    assert fresh["mirrorVersion"] == 1
    assert "late.txt" in {e["name"] for e in fresh["entries"]}

    # stat totals span the whole mirror
    st = client.call(op="stat")
    assert st["files"] == 3 and st["dirs"] == 3    # /, /docs, /docs/sub


@pytest.fixture()
def mirror_inproc(spark, tmp_path):
    """A mirrored catalog plus an IN-PROCESS MirrorService (no TCP) so
    tests can hold a snapshot across folds and poison state dirs."""
    from pufs_spark.catalog import commitlog as CL
    from pufs_spark.streaming import mirror as M

    root = str(tmp_path / "cat")
    mdir = str(tmp_path / "mirror")
    ckpt = str(tmp_path / "ckpt")
    w, log = CL.open_log(root)
    d = w.mkdir(ROOT_INODE, "docs")
    w.add_immutable_bytes(d, "a.txt", b"alpha contents")
    log.commit(w)

    def refresh():
        q = M.start_catalog_mirror(spark, root, mdir, ckpt)
        q.awaitTermination(120)

    refresh()
    store = serving.MirrorStore(mdir)
    return w, log, refresh, store, serving.MirrorService(store)


def test_mirror_snapshot_pins_version_and_data(mirror_inproc):
    """ADVICE r6: a fold landing mid-request must not serve v+1 data
    tagged mirrorVersion v. The snapshot resolves (version, state dir,
    meta) once, so an in-flight request keeps answering from ITS
    version even after the mirror advances."""
    w, log, refresh, store, svc = mirror_inproc
    snap = store.snapshot()
    v0 = snap.version

    # a commit + fold lands while the request is in flight
    d = w.resolve_path("/docs")
    w.add_immutable_bytes(d, "late.txt", b"late")
    log.commit(w)
    refresh()
    assert store.snapshot().version == v0 + 1

    resp = svc._dispatch({"op": "get_dir_contents", "path": "/docs"}, snap)
    names = {e["name"] for e in resp["entries"]}
    assert resp["mirrorVersion"] == v0 and "late.txt" not in names
    # a fresh request sees the new version, consistently tagged
    resp2 = svc.handle({"op": "get_dir_contents", "path": "/docs"})
    assert resp2["mirrorVersion"] == v0 + 1
    assert "late.txt" in {e["name"] for e in resp2["entries"]}


def test_mirror_pruned_state_retries_then_errors_in_band(
    mirror_inproc, tmp_path
):
    """ADVICE r6: a state dir pruned under a slow reader (two folds
    completing mid-request) must not kill the connection handler.
    First failure retries once on a fresh snapshot; persistent failure
    comes back as an in-band errorMsg, and the handler keeps serving."""
    w, log, refresh, store, svc = mirror_inproc
    gone = str(tmp_path / "pruned-away")
    real_snapshot = store.snapshot
    calls = {"n": 0, "poison": 1}

    def flaky_snapshot():
        s = real_snapshot()
        calls["n"] += 1
        if calls["n"] <= calls["poison"]:
            s.state_dir = gone  # simulate pruning after resolution
        return s

    store.snapshot = flaky_snapshot
    try:
        # one poisoned resolution: retried transparently
        resp = svc.handle({"op": "get_dir_contents", "path": "/docs"})
        assert resp["errorMsg"] == "" and calls["n"] == 2

        # lookups go through the single-bucket path — same retry
        calls["n"], calls["poison"] = 0, 1
        resp = svc.handle({"op": "getattr", "path": "/docs/a.txt"})
        assert resp["errorMsg"] == "" and resp["size"] == 14

        # stat is immune: it reads fold-maintained meta totals, never
        # the (poisoned) state dir
        calls["n"], calls["poison"] = 0, 10**9
        resp = svc.handle({"op": "stat"})
        assert resp["errorMsg"] == "" and resp["files"] == 1

        # persistently gone on a bucket-reading op: in-band error, no
        # exception escapes
        calls["n"] = 0
        resp = svc.handle({"op": "get_dir_contents", "path": "/docs"})
        assert "FileNotFoundError" in resp["errorMsg"]
    finally:
        store.snapshot = real_snapshot
    # and the service still answers afterwards
    assert svc.handle({"op": "get_dir_contents", "path": "/docs"})["errorMsg"] == ""


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_serving_survives_live_rebucket_and_folds(spark, tmp_path):
    """Requests racing a bucket-count migration + folds must never
    kill a connection: every response is ok or an in-band errorMsg,
    and post-migration answers are correct at the new bucket count."""
    import threading

    from pufs_spark.catalog import commitlog as CL
    from pufs_spark.streaming import mirror as M

    root = str(tmp_path / "cat")
    mdir = str(tmp_path / "mirror")
    ckpt = str(tmp_path / "ckpt")
    w, log = CL.open_log(root)
    for i in range(8):
        d = w.mkdir(ROOT_INODE, f"top{i}")
        for j in range(40):
            w.add_immutable_bytes(d, f"f{j}", b"x" * (j + 1))
    log.commit(w)

    def refresh(**kw):
        q = M.start_catalog_mirror(spark, root, mdir, ckpt, **kw)
        q.awaitTermination(120)

    refresh(n_buckets=4)
    server, port = serving.serve_mirror(mdir)
    stop = threading.Event()
    bad: list = []

    def hammer():
        c = serving.PufsClient("127.0.0.1", port)
        i = 0
        while not stop.is_set():
            r1 = c.call(op="getattr", path=f"/top{i % 8}/f{i % 40}")
            r2 = c.call(op="get_dir_contents", path=f"/top{(i + 3) % 8}")
            for r in (r1, r2):
                # in-band errors only ever from double-fold pruning;
                # with current+previous kept they should not occur here
                if r.get("errorMsg"):
                    bad.append(r)
            i += 1
        c.close()

    ts = [threading.Thread(target=hammer) for _ in range(3)]
    for t in ts:
        t.start()
    try:
        # a fold, a forced migration, and another fold — all live
        d = w.resolve_path("/top0")
        w.add_immutable_bytes(d, "live1", b"a")
        log.commit(w)
        refresh()
        assert M.maybe_rebucket(spark, mdir, max_bucket_bytes=1) == 16
        w.add_immutable_bytes(d, "live2", b"bb")
        log.commit(w)
        refresh()
    finally:
        stop.set()
        for t in ts:
            t.join()
    assert bad == []

    c = serving.PufsClient("127.0.0.1", port)
    resp = c.call(op="getattr", path="/top0/live2")
    assert resp["errorMsg"] == "" and resp["size"] == 2
    assert resp["mirrorVersion"] == log.current_version()
    names = {e["name"] for e in c.get_dir_contents("/top0")["entries"]}
    assert {"live1", "live2"} <= names
    c.close()
    server.shutdown()
    assert M._resolve_state(mdir)[2] == 16


def test_mirror_cache_is_byte_bounded_lru(spark, tmp_path):
    """VERDICT r7 #1: the decoded-bucket cache must be O(cap), not
    O(catalog). Serve a mirror whose decoded size exceeds a tiny cap,
    touch EVERY bucket (lookups into each path's bucket plus a root
    listing and stat, which fault in all buckets), and assert the
    cached-byte estimate never exceeds the cap while answers stay
    correct after eviction."""
    from pufs_spark.sources.datasource import CDC_SCHEMA
    from pufs_spark.streaming import mirror as M

    fields = [c.split()[0] for c in CDC_SCHEMA.split(", ")]

    def row(version, change, path, is_dir=None, size=None, bid=None):
        return dict(zip(fields, (version, 0.0, "t", "delta", change, path,
                                 is_dir, size, bid)))

    mdir = str(tmp_path / "mirror")
    batch = [row(1, "upsert", "/", True, 0, None)]
    paths = {}
    for i in range(40):
        top = f"/d{i:02d}"
        batch.append(row(1, "upsert", top, True, 0, None))
        for j in range(25):
            p = f"{top}/file-{j:03d}.bin"
            paths[p] = 10 * i + j
            batch.append(row(1, "upsert", p, False, 10 * i + j, f"bid-{i}-{j}"))
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    unbounded = serving.MirrorStore(mdir)
    snap = unbounded.snapshot()
    # fault in every bucket explicitly (stat/root-listing no longer
    # touch data buckets — they read fold-maintained aggregates)
    for _ in _decoded_rows(snap):
        pass
    full = unbounded.cached_bytes()
    assert full > 0

    cap = max(1, full // 4)  # cache 4x smaller than the decoded catalog
    store = serving.MirrorStore(mdir, max_cache_bytes=cap)
    svc = serving.MirrorService(store)
    peak = 0
    for p, size in sorted(paths.items()):
        resp = svc.handle({"op": "getattr", "path": p})
        assert resp["errorMsg"] == "" and resp["size"] == size
        peak = max(peak, store.cached_bytes())
    st = svc.handle({"op": "stat"})
    peak = max(peak, store.cached_bytes())
    assert st["files"] == len(paths) and st["dirs"] == 41
    listing = svc.handle({"op": "get_dir_contents", "path": "/d00"})
    peak = max(peak, store.cached_bytes())
    assert {e["name"] for e in listing["entries"]} == {
        f"file-{j:03d}.bin" for j in range(25)
    }
    assert peak <= cap
    # evicted entries re-decode transparently: re-read the first path
    resp = svc.handle({"op": "getattr", "path": "/d00/file-000.bin"})
    assert resp["errorMsg"] == "" and resp["size"] == 0


def test_stat_and_root_listing_read_zero_data_buckets(spark, tmp_path):
    """VERDICT r8 finding 1 / task 1: mirror ``stat`` and the root
    listing must be O(changed), not O(catalog). On a catalog 4× the
    cache cap, both ops must read ZERO data-bucket files — the fold
    maintains per-bucket totals in the meta and depth-1 entries in
    the rootdir sidecar — with answers identical to the full sweep,
    and a delta fold keeps the aggregates right (recomputing only the
    changed buckets)."""
    from pufs_spark.sources.datasource import CDC_SCHEMA
    from pufs_spark.streaming import mirror as M

    fields = [c.split()[0] for c in CDC_SCHEMA.split(", ")]

    def row(version, change, path, is_dir=None, size=None, bid=None):
        return dict(zip(fields, (version, 0.0, "t", "delta", change, path,
                                 is_dir, size, bid)))

    mdir = str(tmp_path / "mirror")
    batch = [row(1, "upsert", "/", True, 0, None)]
    nfiles = 0
    for i in range(40):
        top = f"/d{i:02d}"
        batch.append(row(1, "upsert", top, True, 0, None))
        batch.append(row(1, "upsert", f"/rootfile-{i:02d}", False, i,
                         f"rbid-{i}"))
        nfiles += 1
        for j in range(25):
            batch.append(row(1, "upsert", f"{top}/f-{j:03d}", False,
                             10 * i + j, f"bid-{i}-{j}"))
            nfiles += 1
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    # a full decode sweep's answers, as the oracle
    ref = serving.MirrorStore(mdir)
    snap = ref.snapshot()
    sweep_stat = {"nodes": 0, "dirs": 0, "files": 0, "bytes": 0}
    root_sweep = []
    for p, (d, s, _b) in _decoded_rows(snap):
        sweep_stat["nodes"] += 1
        if d:
            sweep_stat["dirs"] += 1
        else:
            sweep_stat["files"] += 1
            sweep_stat["bytes"] += s or 0
        name = p.strip("/")
        if name and "/" not in name:
            root_sweep.append(name)
    full = ref.cached_bytes()

    store = serving.MirrorStore(mdir, max_cache_bytes=max(1, full // 4))
    svc = serving.MirrorService(store)
    reads = []

    def counting_bucket_entry(state_dir, fname, _orig=store._bucket_entry):
        reads.append(fname)
        return _orig(state_dir, fname)

    store._bucket_entry = counting_bucket_entry
    st = svc.handle({"op": "stat"})
    listing = svc.handle({"op": "get_dir_contents", "path": "/"})
    assert reads == [], f"stat/root-listing read data buckets: {reads}"
    assert {k: st[k] for k in sweep_stat} == sweep_stat
    assert st["files"] == nfiles
    assert [e["name"] for e in listing["entries"]] == sorted(root_sweep)
    by_name = {e["name"]: e for e in listing["entries"]}
    assert by_name["rootfile-07"]["size"] == 7
    assert by_name["rootfile-07"]["blockId"] == "rbid-7"
    assert by_name["d03"]["isDir"]

    # a delta fold updates the aggregates O(changed): add one root
    # file, delete a whole top dir, grow one nested file
    M._fold_rows(str(tmp_path / "cat"), mdir, [
        row(2, "upsert", "/rootfile-new", False, 1000, "rbid-new"),
        row(2, "absent", "/d05"),
        row(2, "upsert", "/d06/f-000", False, 9999, "bid-6-0"),
    ], spark=spark)
    reads.clear()
    st2 = svc.handle({"op": "stat"})
    listing2 = svc.handle({"op": "get_dir_contents", "path": "/"})
    assert reads == []
    assert st2["files"] == nfiles + 1 - 25        # +new, -d05's 25 files
    assert st2["dirs"] == sweep_stat["dirs"] - 1  # -d05
    assert st2["bytes"] == (
        sweep_stat["bytes"] + 1000
        - sum(10 * 5 + j for j in range(25))      # d05's files
        + 9999 - (10 * 6 + 0)                     # f-000 grew
    )
    names2 = {e["name"] for e in listing2["entries"]}
    assert "rootfile-new" in names2 and "d05" not in names2

    # answers must also match a fresh full sweep after the fold
    snap2 = serving.MirrorStore(mdir).snapshot()
    resweep = {"nodes": 0, "dirs": 0, "files": 0, "bytes": 0}
    for _p, (d, s, _b) in _decoded_rows(snap2):
        resweep["nodes"] += 1
        if d:
            resweep["dirs"] += 1
        else:
            resweep["files"] += 1
            resweep["bytes"] += s or 0
    assert {k: st2[k] for k in resweep} == resweep


def test_oversized_bucket_point_reads_skip_cache(spark, tmp_path):
    """At 10M inodes / 64 buckets the decode-and-cache path collapsed
    (each getattr miss decoded a ~150k-row bucket and evicted ~50 MB
    of hot entries — r9 bench). When the state's estimated decoded
    size exceeds the cap, a cache miss must serve lookups and listings
    via filtered parquet reads: answers identical to the decode path,
    ZERO bytes entering the cache, same error taxonomy."""
    from pufs_spark.catalog import errors as CE
    from pufs_spark.sources.datasource import CDC_SCHEMA
    from pufs_spark.streaming import mirror as M

    fields = [c.split()[0] for c in CDC_SCHEMA.split(", ")]

    def row(version, change, path, is_dir=None, size=None, bid=None):
        return dict(zip(fields, (version, 0.0, "t", "delta", change, path,
                                 is_dir, size, bid)))

    mdir = str(tmp_path / "mirror")
    batch = [row(1, "upsert", "/", True, 0, None)]
    for i in range(10):
        batch.append(row(1, "upsert", f"/d{i}", True, 0, None))
        for j in range(30):
            batch.append(row(1, "upsert", f"/d{i}/sub{j}", True, 0, None))
            batch.append(row(1, "upsert", f"/d{i}/f{j:02d}", False,
                             i * 100 + j, f"b-{i}-{j}"))
            batch.append(row(1, "upsert", f"/d{i}/sub{j}/leaf", False, j,
                             None))
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    decode = serving.MirrorService(serving.MirrorStore(mdir))
    pr_store = _point_mode_store(mdir)
    point = serving.MirrorService(pr_store)

    for req in (
        {"op": "getattr", "path": "/d3/f07"},
        {"op": "getattr", "path": "/d3/sub5/leaf"},   # null bid
        {"op": "getattr", "path": "/"},
        {"op": "get_dir_contents", "path": "/d4"},    # depth-1: summary
        {"op": "get_dir_contents", "path": "/d4/sub2"},  # one bucket
        {"op": "get_dir_contents", "path": "/"},      # rootdir sidecar
        {"op": "getattr", "path": "/absent"},         # NotFoundError
        {"op": "get_dir_contents", "path": "/d1/f00"},  # NotDirError
        {"op": "get_dir_contents", "path": "/nope"},  # NotFoundError
        {"op": "stat"},
    ):
        a, b = decode.handle(dict(req)), point.handle(dict(req))
        assert a == b, (req, a, b)
    assert pr_store.cached_bytes() == 0, \
        "point reads must not populate the bucket cache"
    # and the decode path DID cache (the fast path for small buckets)
    assert decode.store.cached_bytes() > 0

    # the trigger is decoded-state-vs-cap (parquet sizes under-
    # trigger ~20x on sorted paths): a cap smaller than the estimated
    # decoded catalog flips the whole snapshot to point reads even
    # though every bucket is tiny on disk
    capped_store = serving.MirrorStore(mdir, max_cache_bytes=1000)
    capped = serving.MirrorService(capped_store)
    assert capped_store.snapshot().point_reads
    for req in (
        {"op": "getattr", "path": "/d3/f07"},
        {"op": "get_dir_contents", "path": "/d4/sub2"},
    ):
        assert capped.handle(dict(req)) == decode.handle(dict(req))
    assert capped_store.cached_bytes() == 0, \
        "over-cap snapshot must not thrash the cache"
    # and a roomy cap on the same catalog keeps decode-and-cache
    assert not serving.MirrorStore(mdir).snapshot().point_reads


def test_hot_bucket_admission_under_point_reads(spark, tmp_path):
    """r9 verdict finding 3: point-read mode was all-or-nothing — a
    zipf-skewed workload whose hot working set WOULD fit the cap paid
    a filtered parquet read on every request. Admission: a bucket's
    POINT_ADMIT_AFTER'th point read within the decay window promotes
    it into the LRU (warm-dict speed after), but ONLY while the cache
    has headroom for its estimated decoded size — an admission never
    evicts, so scan traffic still cannot thrash residents."""
    from pufs_spark.sources.datasource import CDC_SCHEMA
    from pufs_spark.streaming import mirror as M

    fields = [c.split()[0] for c in CDC_SCHEMA.split(", ")]

    def row(version, change, path, is_dir=None, size=None, bid=None):
        return dict(zip(fields, (version, 0.0, "t", "delta", change, path,
                                 is_dir, size, bid)))

    mdir = str(tmp_path / "mirror")
    batch = [row(1, "upsert", "/", True, 0, None)]
    for i in range(8):
        batch.append(row(1, "upsert", f"/d{i}", True, 0, None))
        for j in range(40):
            batch.append(row(1, "upsert", f"/d{i}/f{j:02d}", False,
                             i * 100 + j, f"b-{i}-{j}"))
    batch.append(row(1, "upsert", "/d2/sub", True, 0, None))
    for j in range(10):
        batch.append(row(1, "upsert", f"/d2/sub/leaf{j}", False, j, None))
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    store = serving.MirrorStore(mdir, max_cache_bytes=1000)  # forces
    snap = store.snapshot()                  # snapshot point_reads on
    assert snap.point_reads
    K = store.POINT_ADMIT_AFTER

    # (1) no headroom (cap 1000 < any bucket's est): K+ accesses to one
    # hot path never admit — the all-point-reads guarantee survives
    for _ in range(K + 2):
        assert snap.lookup("/d3/f07") == (False, 307, "b-3-7")
    assert store.cached_bytes() == 0

    # (2) cap just under the decoded state: point-read mode, yet any
    # one bucket fits — the hot bucket is admitted on its K'th access
    # and serves from the dict
    hot = _point_mode_store(mdir)
    hsnap = hot.snapshot()
    for n in range(K - 1):
        assert hsnap.lookup("/d5/f11") == (False, 511, "b-5-11")
    assert hot.cached_bytes() == 0, "admitted before the K'th access"
    assert hsnap.lookup("/d5/f11") == (False, 511, "b-5-11")
    assert hot.cached_bytes() > 0, "K'th access must admit"
    admitted = hot.cached_bytes()
    # one-shot scans over OTHER buckets do not admit and do not evict
    for i in (0, 1, 2, 4, 6, 7):
        hsnap.lookup(f"/d{i}/f00")
    assert hot.cached_bytes() == admitted

    # (3) DEEP (single-bucket) listings share the admission path;
    # depth-1 listings go through the batched multi-bucket scan and
    # never admit (one listing touching 64 buckets says nothing
    # about any single bucket's heat)
    lst = _point_mode_store(mdir)
    lsnap = lst.snapshot()
    for _ in range(3):  # stays under the admission threshold
        wide = lsnap.list_dir("/d3")
    assert len(wide) == 40
    assert lst.cached_bytes() == 0, \
        "multi-bucket listing scan must not decode-and-cache"
    for _ in range(2 * K):
        kids = lsnap.list_dir("/d2/sub")
    assert len(kids) == 10
    assert lst.cached_bytes() > 0, "hot deep-listing bucket must admit"


def test_admission_insert_never_evicts_on_underestimate(spark, tmp_path):
    """The admission headroom pre-check in _note_point_read uses the
    fold-maintained per-row ESTIMATE (EST_DECODED_BYTES_PER_ROW); the
    actual decoded footprint (300 B/row + 2x path text) exceeds it for
    long paths, and two concurrent admissions can pass the same
    headroom. Injected failure: force the estimate to zero so the
    pre-check always passes — the never-evict invariant must still
    hold because _cache_put(no_evict=True) re-checks against the
    ACTUAL size and drops the insert rather than evicting a
    resident."""
    from pufs_spark.sources.datasource import CDC_SCHEMA
    from pufs_spark.streaming import mirror as M

    fields = [c.split()[0] for c in CDC_SCHEMA.split(", ")]

    def row(version, change, path, is_dir=None, size=None, bid=None):
        return dict(zip(fields, (version, 0.0, "t", "delta", change, path,
                                 is_dir, size, bid)))

    batch = [row(1, "upsert", "/", True, 0, None)]
    for i in range(8):
        batch.append(row(1, "upsert", f"/d{i}", True, 0, None))
        for j in range(40):
            batch.append(row(1, "upsert", f"/d{i}/f{j:02d}", False,
                             i * 100 + j, f"b-{i}-{j}"))
    mdir = str(tmp_path / "mirror")
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    store = _point_mode_store(mdir)
    snap = store.snapshot()  # point mode is pinned for the snapshot
    store.POINT_ADMIT_AFTER = 1  # instance attr: admit on first read
    store.EST_DECODED_BYTES_PER_ROW = 0  # pre-check always sees room
    # also defeat the r11 parquet-size floor (EST_MIN_DECODE_RATIO):
    # this test injects exactly the "estimate passed, actual didn't"
    # failure the floor exists to prevent, to pin the LAST line of
    # defense (_cache_put's actual-size re-check)
    store.EST_MIN_DECODE_RATIO = 0

    # admit one bucket legitimately, then shrink the cap around it so
    # nothing else fits without eviction
    assert snap.lookup("/d5/f11") == (False, 511, "b-5-11")
    resident = store.cached_bytes()
    assert resident > 0
    resident_keys = set(store._cache)
    store.max_cache_bytes = resident + 10

    # a second bucket passes the zero-estimate pre-check but its
    # actual decode does not fit: the answer is still served, nothing
    # is cached, and the resident bucket survives untouched
    for _ in range(3):
        assert snap.lookup("/d3/f07") == (False, 307, "b-3-7")
    assert store.cached_bytes() == resident
    assert set(store._cache) == resident_keys

    # headroom restored -> the same bucket re-earns admission and lands
    store.max_cache_bytes = serving.MirrorStore.DEFAULT_CACHE_BYTES
    assert snap.lookup("/d3/f07") == (False, 307, "b-3-7")
    assert store.cached_bytes() > resident
    assert len(store._cache) == 2


def _mini_mirror(spark, tmp_path, tops=("a", "b"), version=1, per=6):
    """Fold a tiny catalog: '/' plus ``per`` files under each top dir."""
    from pufs_spark.streaming import mirror as M

    row = _cdc_row_factory()
    batch = [row(version, "upsert", "/", True, 0, None)]
    for t in tops:
        batch.append(row(version, "upsert", f"/{t}", True, 0, None))
        for j in range(per):
            batch.append(row(version, "upsert", f"/{t}/f{j}", False,
                             10 + j, f"b-{t}-{j}"))
    mdir = str(tmp_path / "mirror")
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)
    return mdir


def test_previous_state_reader_cannot_evict_current_resident(
        spark, tmp_path):
    """ADVICE r11: _drop_cached fired whenever the CALLER's snapshot
    had no file for the bucket — including readers pinned to the
    PREVIOUS state. A bucket empty at v1 but populated (and resident)
    at v2 had its valid entry evicted by a straggling v1 reader; under
    never-evict admission the re-earn costs up to POINT_ADMIT_CEIL
    point reads plus a full decode. The drop must only honor callers
    at the newest state the store has resolved."""
    from pufs_spark.catalog import errors as CE
    from pufs_spark.streaming import mirror as M

    row = _cdc_row_factory()
    mdir = _mini_mirror(spark, tmp_path, tops=("a",))  # /b absent at v1
    store = serving.MirrorStore(mdir)
    s1 = store.snapshot()

    # fold v2 populates /b; a v2 reader decodes its bucket resident
    fold2 = [row(2, "upsert", "/b", True, 0, None),
             row(2, "upsert", "/b/f0", False, 77, "b-b-0")]
    M._fold_rows(str(tmp_path / "cat"), mdir, fold2, spark=spark)
    s2 = store.snapshot()
    assert s2.lookup("/b/f0") == (False, 77, "b-b-0")
    resident = store.cached_bytes()
    assert resident > 0

    # the straggling v1 reader sees /b's bucket file absent at ITS
    # state dir (still on disk: current+previous are kept) — NotFound
    # is correct, evicting the v2 resident is not
    with pytest.raises(CE.NotFoundError):
        s1.lookup("/b/f0")
    assert store.cached_bytes() == resident
    assert store.stats()["evictions"] == 0
    # and the resident still answers warm at v2
    hits_before = store.stats()["hits"]
    assert s2.lookup("/b/f0") == (False, 77, "b-b-0")
    assert store.stats()["hits"] == hits_before + 1

    # the OTHER side must survive too (the r10 emptied-bucket leak):
    # a fold that genuinely empties the bucket, observed from the
    # LATEST state, still reclaims the resident
    fold3 = [row(3, "absent", "/b/f0"), row(3, "absent", "/b")]
    M._fold_rows(str(tmp_path / "cat"), mdir, fold3, spark=spark)
    s3 = store.snapshot()
    with pytest.raises(CE.NotFoundError):
        s3.lookup("/b/f0")
    assert store.stats()["evictions"] == 1
    assert store.cached_bytes() < resident


def test_failed_admission_insert_restores_counter(spark, tmp_path):
    """ADVICE r11: _note_point_read consumed the bucket's earned
    frequency counter BEFORE the decode/insert; when _cache_put
    (no_evict) dropped the insert for lack of real headroom, a
    still-hot bucket restarted earning from zero. The counter must be
    restored (clamped at the threshold) so the bucket re-admits on its
    FIRST access after headroom appears."""
    mdir = _mini_mirror(spark, tmp_path, per=20)
    store = serving.MirrorStore(mdir, max_cache_bytes=10)
    snap = store.snapshot()  # 10-byte cap: point mode
    assert snap.point_reads
    store.POINT_ADMIT_AFTER = 3
    store.EST_DECODED_BYTES_PER_ROW = 0  # pre-check est = 0: always room
    store.EST_MIN_DECODE_RATIO = 0      # defeat the r11 floor too
    fname = snap._fname_for("/a/f0")

    # two sub-threshold point reads, then the 3rd admits -> decode ->
    # actual size exceeds the 10-byte cap -> insert dropped
    for _ in range(3):
        assert snap.lookup("/a/f0") == (False, 10, "b-a-0")
    assert store.cached_bytes() == 0
    # the earned counter survived the failed insert, clamped at the
    # ACTUAL-size threshold (was: deleted — re-earn from zero)
    assert store._point_freq.get(fname, 0) >= store.POINT_ADMIT_AFTER
    # ADVICE r12: the dropped insert is NOT an admission — the stat
    # counts landed inserts only (it paid the decode, though)
    assert store.stats()["admissions"] == 0
    assert store.stats()["decodes"] == 1

    # first access after real headroom appears admits immediately
    store.max_cache_bytes = serving.MirrorStore.DEFAULT_CACHE_BYTES
    assert snap.lookup("/a/f0") == (False, 10, "b-a-0")
    assert store.cached_bytes() > 0
    assert store.stats()["admissions"] == 1


def test_measured_decode_corrects_floor_starvation(spark, tmp_path):
    """ADVICE r12 (medium): the EST_MIN_DECODE_RATIO floor applied to
    EVERY admission estimate — including fresh fold-maintained ones —
    so a bucket whose REAL decode ratio sits below the floor
    (high-entropy paths compress poorly) could permanently fail the
    headroom pre-check for a cache it actually fits: never admitted,
    every request a filtered point read, forever. Once a decode has
    measured the bucket's true footprint, the admission estimate must
    use it (scaled by parquet size) so the floor corrects downward."""
    mdir = _mini_mirror(spark, tmp_path, per=20)
    store = _point_mode_store(mdir)
    store.POINT_ADMIT_AFTER = 1
    store.POINT_ADMIT_CEIL = 1  # heat is instant: isolate the headroom
    # check, the part the floor starves
    # model a bucket whose floored estimate vastly overshoots reality
    store.EST_MIN_DECODE_RATIO = 10_000.0
    snap = store.snapshot()
    fname = snap._fname_for("/a/f0")
    f = os.path.join(snap.state_dir, fname)
    actual_fits = 64 * 1024  # larger than any 20-row bucket's decode
    floored = int(os.stat(f).st_size * store.EST_MIN_DECODE_RATIO)
    assert floored > actual_fits  # the starvation precondition
    store.max_cache_bytes = actual_fits

    # un-measured bucket: the floor bars admission no matter how hot
    for _ in range(5):
        assert snap.lookup("/a/f0") == (False, 10, "b-a-0")
    assert store.stats()["decodes"] == 0
    assert store.stats()["point_reads"] == 5
    assert store.cached_bytes() == 0

    # one decode measures the true footprint (cap lifted momentarily —
    # e.g. the bucket was admitted under lighter load, then evicted)
    store.max_cache_bytes = serving.MirrorStore.DEFAULT_CACHE_BYTES
    assert snap.lookup("/a/f0") == (False, 10, "b-a-0")
    assert store.stats()["decodes"] == 1
    measured = store.cached_bytes()
    assert 0 < measured < actual_fits
    # evict it and restore the tight cap the floor could never satisfy
    store._cache.clear()
    store._cache_bytes = 0
    store.max_cache_bytes = actual_fits

    # the measured estimate replaces the floored one: the bucket
    # re-admits into the cache it genuinely fits (was: starved forever)
    assert snap.lookup("/a/f0") == (False, 10, "b-a-0")
    assert store.cached_bytes() == measured
    assert store.stats()["decodes"] == 2


def test_hopeless_admission_never_attempts_decode(spark, tmp_path):
    """ADVICE r11: the inline decode ran on the request thread BEFORE
    the insert decision — a giant bucket under a mis-estimated tiny
    admit_est paid the multi-second decode even though the insert was
    then dropped. The parquet-size floor (EST_MIN_DECODE_RATIO x file
    bytes) bounds the estimate so hopeless buckets fail the headroom
    pre-check and never decode at all."""
    mdir = _mini_mirror(spark, tmp_path, per=40)
    store = serving.MirrorStore(mdir, max_cache_bytes=1)
    snap = store.snapshot()  # 1-byte cap: point mode
    assert snap.point_reads
    store.POINT_ADMIT_AFTER = 1
    store.POINT_ADMIT_CEIL = 2  # reach the headroom check quickly —
    # the floor must reject there even once the bucket is "hot enough"
    store.EST_DECODED_BYTES_PER_ROW = 0  # the "corrupted tiny estimate"

    for _ in range(5):
        assert snap.lookup("/a/f3") == (False, 13, "b-a-3")
    st = store.stats()
    assert st["decodes"] == 0, "hopeless bucket must not attempt decode"
    assert st["point_reads"] == 5
    assert store.cached_bytes() == 0

    # defeating the floor reproduces the old behavior: the decode runs
    # and its insert is dropped — proving the floor is what prevents it
    store.EST_MIN_DECODE_RATIO = 0
    assert snap.lookup("/a/f3") == (False, 13, "b-a-3")
    assert store.stats()["decodes"] == 1
    assert store.cached_bytes() == 0


def test_corrupt_delta_sidecar_falls_back_to_reload(spark, tmp_path):
    """ADVICE r11: _load_delta guarded json.load but not the per-entry
    parse — a sidecar from a newer/older writer (changed entry schema)
    or valid-JSON corruption raised KeyError/TypeError in the REQUEST
    path. Any unparseable sidecar must behave like an absent one:
    residents reload, answers stay correct."""
    import json as _json

    from pufs_spark.streaming import mirror as M

    row = _cdc_row_factory()
    mdir = _mini_mirror(spark, tmp_path)
    store = serving.MirrorStore(mdir)
    snap = store.snapshot()
    assert snap.lookup("/a/f0") == (False, 10, "b-a-0")  # warm /a

    fold2 = [row(2, "upsert", "/a/f0", False, 999, "b-new")]
    M._fold_rows(str(tmp_path / "cat"), mdir, fold2, spark=spark)
    state_dir = M._resolve_state(mdir)[1]
    sidecar = os.path.join(state_dir, M.DELTA_FILE)

    for corrupt in (
        # valid JSON, future-writer entry schema (renamed keys)
        {"prev_state_dirname": None,
         "entries": {"bucket-0000.parquet": {"sig_before": [1, 2, 3]}}},
        # valid JSON, right keys, wrong value shapes
        {"entries": {"bucket-0000.parquet": {
            "prev_sig": None, "new_sig": None,
            "upserts": "nope", "deletes": 0}}},
        # entries not even a dict
        {"entries": [1, 2, 3]},
    ):
        with open(sidecar, "w") as fh:
            _json.dump(corrupt, fh)
        store._delta_cache.clear()
        assert store._load_delta(state_dir) is None
        # request path: the stale resident falls back to a reload and
        # still answers the new version correctly
        s2 = store.snapshot()
        assert s2.lookup("/a/f0") == (False, 999, "b-new")


def test_mirror_fleet_parity_folds_and_failover(spark, tmp_path):
    """serve_mirror_fleet (r7 verdict task 6): N processes share one
    port via SO_REUSEPORT, each with its own bounded cache. Fresh
    connections land across the fleet and all answer the single-server
    surface; a fold is visible fleet-wide (every process re-resolves
    the snapshot per request); killing one worker sheds only its
    connections — new ones land on survivors."""
    import os
    import time

    from pufs_spark.catalog import commitlog as CL
    from pufs_spark.sources.cas import Freezer
    from pufs_spark.streaming import mirror as M

    root = str(tmp_path / "cat")
    mdir = str(tmp_path / "mirror")
    ckpt = str(tmp_path / "ckpt")
    w, log = CL.open_log(root)
    d = w.mkdir(ROOT_INODE, "docs")
    w.add_immutable_bytes(d, "a.txt", b"alpha contents")
    w.mkdir(d, "sub")
    log.commit(w)

    def refresh():
        q = M.start_catalog_mirror(spark, root, mdir, ckpt)
        q.awaitTermination(120)

    refresh()
    fz_path = os.path.join(root, "freezer")
    fleet, port = serving.serve_mirror_fleet(
        mdir, n_procs=3, cas_factory=lambda: Freezer(fz_path)
    )
    clients = []
    try:
        assert fleet.alive() == 3
        # a spread of fresh connections: every one answers the full
        # surface identically, wherever the kernel lands it
        for _ in range(6):
            c = serving.PufsClient("127.0.0.1", port)
            clients.append(c)
            resp = c.get_dir_contents("/docs")
            assert resp["errorMsg"] == "" and resp["mirrorVersion"] == 0
            assert {e["name"] for e in resp["entries"]} == {"a.txt", "sub"}
            assert c.read_bytes("/docs/a.txt") == b"alpha contents"
            assert "NotFoundError" in c.get_dir_contents("/nope")["errorMsg"]

        # a fold lands under the running fleet: visible on EVERY
        # already-open connection (snapshot re-resolves per request)
        w.add_immutable_bytes(w.resolve_path("/docs"), "late.txt", b"late")
        log.commit(w)
        refresh()
        for c in clients:
            resp = c.get_dir_contents("/docs")
            assert resp["mirrorVersion"] == 1
            assert "late.txt" in {e["name"] for e in resp["entries"]}

        # failover: kill one worker; NEW connections keep being served
        # by the survivors (retry: the dead listener leaves the group
        # when its process exits)
        fleet.procs[0].terminate()
        fleet.procs[0].join(timeout=10)
        assert fleet.alive() == 2
        deadline = time.monotonic() + 15
        served = 0
        while served < 6 and time.monotonic() < deadline:
            try:
                c = serving.PufsClient("127.0.0.1", port, timeout=5.0)
            except OSError:
                time.sleep(0.1)
                continue
            try:
                resp = c.get_dir_contents("/docs")
            except (OSError, ValueError):
                time.sleep(0.1)
                continue
            finally:
                c.close()
            if resp.get("errorMsg") == "":
                assert {e["name"] for e in resp["entries"]} == {
                    "a.txt", "sub", "late.txt"
                }
                served += 1
        assert served == 6
    finally:
        for c in clients:
            c.close()
        fleet.stop()
    assert fleet.alive() == 0


def test_fleet_spawn_start_method(spark, tmp_path):
    """serve_mirror_fleet(start_method="spawn"): production-fidelity
    workers — fresh interpreters importing _fleet_worker by module
    path, nothing inherited from a driver that holds a live
    SparkSession (ROADMAP weak spot 7). The factory must pickle by
    reference, so it's functools.partial over the module-level
    Freezer instead of the fork tests' lambda."""
    import functools
    import os

    from pufs_spark.catalog import commitlog as CL
    from pufs_spark.sources.cas import Freezer
    from pufs_spark.streaming import mirror as M

    root = str(tmp_path / "cat")
    mdir = str(tmp_path / "mirror")
    w, log = CL.open_log(root)
    d = w.mkdir(ROOT_INODE, "docs")
    w.add_immutable_bytes(d, "a.txt", b"alpha contents")
    log.commit(w)
    q = M.start_catalog_mirror(spark, root, mdir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    fleet, port = serving.serve_mirror_fleet(
        mdir,
        n_procs=2,
        cas_factory=functools.partial(
            Freezer, os.path.join(root, "freezer")
        ),
        start_method="spawn",
    )
    try:
        assert fleet.alive() == 2
        for _ in range(4):
            c = serving.PufsClient("127.0.0.1", port)
            try:
                resp = c.get_dir_contents("/docs")
                assert resp["errorMsg"] == ""
                assert {e["name"] for e in resp["entries"]} == {"a.txt"}
                assert c.read_bytes("/docs/a.txt") == b"alpha contents"
            finally:
                c.close()
    finally:
        fleet.stop()
    assert fleet.alive() == 0


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_fleet_survives_live_rebucket_and_folds(spark, tmp_path):
    """The fleet twin of the live-rebucket chaos: requests spread
    across N SO_REUSEPORT processes race a fold, a forced bucket-count
    migration, and another fold. Every process pins one snapshot per
    request against its own cache, so the same guarantees must hold
    fleet-wide: no connection dies, no in-band errors at this fold
    cadence, post-migration answers correct at the new bucket count
    from EVERY worker."""
    import threading

    from pufs_spark.catalog import commitlog as CL
    from pufs_spark.streaming import mirror as M

    root = str(tmp_path / "cat")
    mdir = str(tmp_path / "mirror")
    ckpt = str(tmp_path / "ckpt")
    w, log = CL.open_log(root)
    for i in range(8):
        d = w.mkdir(ROOT_INODE, f"top{i}")
        for j in range(40):
            w.add_immutable_bytes(d, f"f{j}", b"x" * (j + 1))
    log.commit(w)

    def refresh(**kw):
        q = M.start_catalog_mirror(spark, root, mdir, ckpt, **kw)
        q.awaitTermination(120)

    refresh(n_buckets=4)
    fleet, port = serving.serve_mirror_fleet(mdir, n_procs=3)
    stop = threading.Event()
    bad: list = []

    def hammer(seed):
        c = serving.PufsClient("127.0.0.1", port)
        i = seed
        while not stop.is_set():
            r1 = c.call(op="getattr", path=f"/top{i % 8}/f{i % 40}")
            r2 = c.call(op="get_dir_contents", path=f"/top{(i + 3) % 8}")
            for r in (r1, r2):
                if r.get("errorMsg"):
                    bad.append(r)
            i += 1
        c.close()

    ts = [threading.Thread(target=hammer, args=(i * 7,)) for i in range(6)]
    for t in ts:
        t.start()
    try:
        d = w.resolve_path("/top0")
        w.add_immutable_bytes(d, "live1", b"a")
        log.commit(w)
        refresh()
        assert M.maybe_rebucket(spark, mdir, max_bucket_bytes=1) == 16
        w.add_immutable_bytes(d, "live2", b"bb")
        log.commit(w)
        refresh()
    finally:
        stop.set()
        for t in ts:
            t.join()
    try:
        assert bad == []
        assert fleet.alive() == 3
        # several fresh connections (spread across workers): all serve
        # the migrated state
        for _ in range(6):
            c = serving.PufsClient("127.0.0.1", port)
            resp = c.call(op="getattr", path="/top0/live2")
            assert resp["errorMsg"] == "" and resp["size"] == 2
            assert resp["mirrorVersion"] == log.current_version()
            names = {e["name"] for e in c.get_dir_contents("/top0")["entries"]}
            assert {"live1", "live2"} <= names
            c.close()
    finally:
        fleet.stop()
    assert M._resolve_state(mdir)[2] == 16


def _cdc_row_factory():
    from pufs_spark.sources.datasource import CDC_SCHEMA

    fields = [c.split()[0] for c in CDC_SCHEMA.split(", ")]

    def row(version, change, path, is_dir=None, size=None, bid=None):
        return dict(zip(fields, (version, 0.0, "t", "delta", change, path,
                                 is_dir, size, bid)))

    return row


def _no_parquet_reads(monkeypatch):
    """Make ANY parquet decode or filtered read explode — proves an
    answer came purely from the patched in-memory cache."""
    import pyarrow.parquet as pq

    def boom(*a, **k):
        raise AssertionError("parquet read on a patch-served request")

    monkeypatch.setattr(pq, "read_table", boom)


def test_fold_delta_patches_resident_buckets(spark, tmp_path, monkeypatch):
    """ROADMAP r10 weak spot 6: a fold used to invalidate every
    resident bucket it touched — at the 10M/64-bucket shape each hot
    bucket then re-earned admission (~190 point reads) and re-decoded
    (~2 s), collapsing serving to ~26 qps THROUGH folds. The fold now
    publishes a delta sidecar (net upserts/deletes per touched bucket,
    keyed by prev/new file signatures) and the serving cache patches
    residents forward in place: post-fold answers must be correct and
    byte-identical to a fresh decode, with ZERO parquet reads."""
    from pufs_spark.streaming import mirror as M

    row = _cdc_row_factory()
    mdir = str(tmp_path / "mirror")
    batch = [row(1, "upsert", "/", True, 0, None)]
    for i in range(6):
        batch.append(row(1, "upsert", f"/d{i}", True, 0, None))
        for j in range(20):
            batch.append(row(1, "upsert", f"/d{i}/f{j:02d}", False,
                             i * 100 + j, f"b-{i}-{j}"))
        batch.append(row(1, "upsert", f"/d{i}/sub", True, 0, None))
        batch.append(row(1, "upsert", f"/d{i}/sub/leaf", False, i, None))
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    store = serving.MirrorStore(mdir)
    snap = store.snapshot()
    # warm every bucket (small catalog: decode-and-cache path)
    for i in range(6):
        snap.lookup(f"/d{i}/f00")
        snap.list_dir(f"/d{i}")
    warmed = dict(store._cache)
    assert warmed

    # fold v2: change a size, add a file, delete a file, delete a
    # whole subtree (dir + leaf), across several top dirs
    fold2 = [
        row(2, "upsert", "/d1/f03", False, 9999, "b-new"),
        row(2, "upsert", "/d2/g77", False, 7, None),
        row(2, "absent", "/d3/f05"),
        row(2, "absent", "/d4/sub"),
    ]
    M._fold_rows(str(tmp_path / "cat"), mdir, fold2, spark=spark)
    state_dir = M._resolve_state(mdir)[1]
    assert os.path.exists(os.path.join(state_dir, M.DELTA_FILE))

    # expected answers from a FRESH store (its own cache, real decodes)
    fresh = serving.MirrorStore(mdir)
    fsnap = fresh.snapshot()
    expect = {
        "/d1/f03": fsnap.lookup("/d1/f03"),
        "/d2/g77": fsnap.lookup("/d2/g77"),
        "/d0/f00": fsnap.lookup("/d0/f00"),
    }
    expect_ls = {p: fsnap.list_dir(p) for p in
                 ("/d1", "/d2", "/d3", "/d4", "/d5")}
    # fresh decodes of every warmed bucket, for the internals check
    # below (computed now: parquet reads are blocked after this point)
    fresh_entries = {fname: fresh._bucket_entry(state_dir, fname)
                     for fname in store._cache}

    # from here on, any parquet read is a failure: the warmed store
    # must answer the NEW version purely by patching residents
    _no_parquet_reads(monkeypatch)
    snap2 = store.snapshot()
    assert snap2.version == 2
    for p, want in expect.items():
        assert snap2.lookup(p) == want
    for p, want in expect_ls.items():
        assert snap2.list_dir(p) == want
    from pufs_spark.catalog import errors as CE
    with pytest.raises(CE.NotFoundError):
        snap2.lookup("/d3/f05")
    with pytest.raises(CE.NotFoundError):
        snap2.lookup("/d4/sub/leaf")

    # internals: patched entries equal a fresh decode exactly — rows
    # dict identical, kids identical up to order, est accounting
    # identical to _entry_bytes on the final rows
    for fname, (sig, rows, kids, est) in store._cache.items():
        frows, fkids = fresh_entries[fname]
        assert rows == frows, fname
        assert {k: sorted(v) for k, v in kids.items() if v} == \
               {k: sorted(v) for k, v in fkids.items() if v}, fname
        assert est == serving.MirrorStore._entry_bytes(rows), fname
    assert store._cache_bytes == sum(e[3] for e in store._cache.values())

    # untouched buckets were never invalidated either (hard links):
    # every warmed fname is still resident
    assert set(warmed) <= set(store._cache)


def test_fold_delta_patch_preserves_admission(spark, tmp_path, monkeypatch):
    """Under point-read mode an admitted hot bucket must SURVIVE a fold
    that touches it: the patch keeps it resident at the new version —
    no admission re-earn, no decode, no filtered read (the exact
    ~26 qps-under-folds mechanism, r10 bench)."""
    from pufs_spark.streaming import mirror as M

    row = _cdc_row_factory()
    mdir = str(tmp_path / "mirror")
    batch = [row(1, "upsert", "/", True, 0, None)]
    for i in range(4):
        batch.append(row(1, "upsert", f"/d{i}", True, 0, None))
        for j in range(30):
            batch.append(row(1, "upsert", f"/d{i}/f{j:02d}", False,
                             i * 100 + j, f"b-{i}-{j}"))
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    store = _point_mode_store(mdir)
    store.POINT_ADMIT_AFTER = 2
    snap = store.snapshot()
    for _ in range(2):  # second point read admits
        assert snap.lookup("/d1/f07") == (False, 107, "b-1-7")
    assert store.cached_bytes() > 0

    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(2, "upsert", "/d1/f07", False, 42, "b-v2")],
                 spark=spark)

    _no_parquet_reads(monkeypatch)
    snap2 = store.snapshot()
    assert snap2.lookup("/d1/f07") == (False, 42, "b-v2")
    # still resident, still exactly one entry, counters untouched —
    # and the patched kids index carries the new row (a depth-1
    # list_dir("/d1") would also touch its UNCACHED sibling buckets,
    # so inspect the resident entry directly)
    assert len(store._cache) == 1
    (_, rows, kids, _), = store._cache.values()
    assert ("f07", (False, 42, "b-v2")) in kids["/d1"]
    assert store._point_freq.get(next(iter(store._cache)), 0) == 0


def test_fold_delta_fallbacks(spark, tmp_path):
    """Patch misses must degrade to the ordinary reload paths, never
    to a wrong answer: (a) a resident THREE folds behind (the chain
    resolves at most two steps — the previous state dir is the oldest
    kept), (b) a bucket omitted from the sidecar by the per-bucket row
    cap, (c) a torn/garbage sidecar, (d) wholesale publishes (root
    wipe) emit no sidecar at all. And a resident exactly TWO folds
    behind must patch via the chained previous-dir sidecar — zero
    parquet reads."""
    from pufs_spark.streaming import mirror as M

    row = _cdc_row_factory()
    mdir = str(tmp_path / "mirror")
    batch = [row(1, "upsert", "/", True, 0, None),
             row(1, "upsert", "/a", True, 0, None),
             row(1, "upsert", "/b", True, 0, None)]
    for j in range(8):
        batch.append(row(1, "upsert", f"/a/f{j}", False, j, None))
        batch.append(row(1, "upsert", f"/b/f{j}", False, j, None))
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    store = serving.MirrorStore(mdir)
    store.snapshot().lookup("/a/f1")  # warm /a's bucket

    # (a) two folds touching the same path: the resident is 2 behind
    # and must be patched through BOTH sidecars (current + previous
    # state dir) without touching parquet
    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(2, "upsert", "/a/f1", False, 21, None)], spark=spark)
    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(3, "upsert", "/a/f1", False, 31, None)], spark=spark)
    import pyarrow.parquet as _pq
    real_read = _pq.read_table
    try:
        _pq.read_table = lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("2-behind resident must chain, not reload"))
        assert store.snapshot().lookup("/a/f1") == (False, 31, None)
    finally:
        _pq.read_table = real_read
    # ...but THREE behind (oldest dir pruned) falls back to decode
    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(4, "upsert", "/a/f2", False, 90, None)], spark=spark)
    store2 = serving.MirrorStore(mdir)
    store2.snapshot().lookup("/a/f1")           # warm at v4
    for v in (5, 6, 7):
        M._fold_rows(str(tmp_path / "cat"), mdir,
                     [row(v, "upsert", "/a/f1", False, v, None)],
                     spark=spark)
    assert store2.snapshot().lookup("/a/f1") == (False, 7, None)

    # (b) per-bucket cap: a fold with more net rows than the cap in
    # ONE bucket (paths sharing the BUCKET_DEPTH key prefix) omits
    # that bucket from the sidecar; the resident falls back to decode
    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(8, "upsert", "/b/sub", True, 0, None),
                  row(8, "upsert", "/b/sub/f1", False, 1, None)],
                 spark=spark)
    store.snapshot().lookup("/b/sub/f1")  # warm the subtree's bucket
    monkeypatch_cap = M.DELTA_MAX_ROWS_PER_BUCKET
    try:
        M.DELTA_MAX_ROWS_PER_BUCKET = 1
        M._fold_rows(str(tmp_path / "cat"), mdir,
                     [row(9, "upsert", "/b/sub/f1", False, 41, None),
                      row(9, "upsert", "/b/sub/f2", False, 42, None)],
                     spark=spark)
    finally:
        M.DELTA_MAX_ROWS_PER_BUCKET = monkeypatch_cap
    sd = M._resolve_state(mdir)[1]
    delta = json.loads(open(os.path.join(sd, M.DELTA_FILE)).read()) \
        if os.path.exists(os.path.join(sd, M.DELTA_FILE)) else {"entries": {}}
    nb = M._resolve_state(mdir)[2]
    bfname = f"bucket-{M._bucket('/b/sub/f1', nb):04d}.parquet"
    assert M._bucket('/b/sub/f2', nb) == M._bucket('/b/sub/f1', nb)
    assert bfname not in delta["entries"]
    assert store.snapshot().lookup("/b/sub/f1") == (False, 41, None)
    assert store.snapshot().lookup("/b/sub/f2") == (False, 42, None)

    # (c) garbage sidecar: patching is skipped, answers still right
    store.snapshot().lookup("/a/f1")
    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(10, "upsert", "/a/f1", False, 51, None)], spark=spark)
    sd = M._resolve_state(mdir)[1]
    with open(os.path.join(sd, M.DELTA_FILE), "w") as f:
        f.write("{not json")
    assert store.snapshot().lookup("/a/f1") == (False, 51, None)

    # (d) a root wipe publishes WITHOUT a sidecar (prev rows not in
    # hand for a diff) — and the post-wipe state is served correctly
    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(11, "absent", "/"),
                  row(12, "upsert", "/", True, 0, None),
                  row(12, "upsert", "/c", True, 0, None),
                  row(12, "upsert", "/c/only", False, 1, None)],
                 spark=spark)
    sd = M._resolve_state(mdir)[1]
    assert not os.path.exists(os.path.join(sd, M.DELTA_FILE))
    assert store.snapshot().lookup("/c/only") == (False, 1, None)
    from pufs_spark.catalog import errors as CE
    with pytest.raises(CE.NotFoundError):
        store.snapshot().lookup("/a/f1")


def test_fold_delta_zero_change_restamps_resident(spark, tmp_path,
                                                  monkeypatch):
    """A touched bucket whose FINAL content is unchanged (identical
    re-upsert; same shape as a depth-1 absent's summary-superset false
    positives) still gets a fresh file signature — the sidecar keeps a
    zero-row entry for it so the serving cache just re-stamps its
    resident instead of reloading the whole bucket."""
    from pufs_spark.streaming import mirror as M

    row = _cdc_row_factory()
    mdir = str(tmp_path / "mirror")
    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(1, "upsert", "/", True, 0, None),
                  row(1, "upsert", "/a", True, 0, None),
                  row(1, "upsert", "/a/f1", False, 11, "bid-1")],
                 spark=spark)
    store = serving.MirrorStore(mdir)
    assert store.snapshot().lookup("/a/f1") == (False, 11, "bid-1")
    (old_sig,) = [e[0] for e in store._cache.values()]

    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(2, "upsert", "/a/f1", False, 11, "bid-1")],
                 spark=spark)
    sd = M._resolve_state(mdir)[1]
    delta = json.loads(open(os.path.join(sd, M.DELTA_FILE)).read())
    (ent,) = delta["entries"].values()
    assert ent["upserts"] == {} and ent["deletes"] == []

    _no_parquet_reads(monkeypatch)
    assert store.snapshot().lookup("/a/f1") == (False, 11, "bid-1")
    (new_sig,) = [e[0] for e in store._cache.values()]
    assert new_sig != old_sig  # re-stamped to the new file's signature


def test_cache_stats_observability(spark, tmp_path):
    """The mirror-only ``cache_stats`` op: the counters must separate
    warm-dict hits, fold patches, full decodes, filtered point reads
    and admissions — the mix an operator reads to tell "cache working"
    from "thrashing" or "folds outpacing the patch"."""
    from pufs_spark.streaming import mirror as M

    row = _cdc_row_factory()
    mdir = str(tmp_path / "mirror")
    batch = [row(1, "upsert", "/", True, 0, None),
             row(1, "upsert", "/a", True, 0, None)]
    for j in range(10):
        batch.append(row(1, "upsert", f"/a/f{j}", False, j, None))
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    store = serving.MirrorStore(mdir)
    svc = serving.MirrorService(store)
    snap = store.snapshot()
    snap.lookup("/a/f1")                       # decode
    snap.lookup("/a/f1")                       # hit
    M._fold_rows(str(tmp_path / "cat"), mdir,
                 [row(2, "upsert", "/a/f1", False, 21, None)], spark=spark)
    assert store.snapshot().lookup("/a/f1") == (False, 21, None)  # patch
    st = store.stats()
    assert st["decodes"] == 1 and st["hits"] == 1 and st["patches"] == 1
    assert st["point_reads"] == 0 and st["admissions"] == 0

    # point-read mode: filtered reads count; the K'th admits
    pr = _point_mode_store(mdir)
    psnap = pr.snapshot()  # point mode is pinned for this snapshot
    # one bucket file's parquet-size floor (EST_MIN_DECODE_RATIO)
    # exceeds this 12-row catalog's decoded estimate: lift the cap so
    # the admission has headroom
    pr.max_cache_bytes = serving.MirrorStore.DEFAULT_CACHE_BYTES
    pr.POINT_ADMIT_AFTER = 3
    for _ in range(3):
        assert psnap.lookup("/a/f2") == (False, 2, None)
    st = pr.stats()
    assert st["point_reads"] == 2       # third access admitted instead
    assert st["admissions"] == 1 and st["decodes"] == 1

    # the op surface (same handler the TCP server dispatches to)
    resp = svc.handle({"op": "cache_stats"})
    assert resp["errorMsg"] == ""
    assert resp["patches"] == 1 and resp["capBytes"] == store.max_cache_bytes
    assert resp["cachedBytes"] == store.cached_bytes() > 0
    assert resp["mirrorVersion"] == 2
    # pid identifies WHICH fleet worker answered (r11: fleet clients
    # poll fresh connections and de-dup by pid for per-worker stats)
    import os as _os

    assert resp["pid"] == _os.getpid()


def test_admission_threshold_tracks_measured_costs(spark, tmp_path):
    """r11 verdict What's-wrong #3: DECODE_US_PER_ROW /
    POINT_READ_COST_MS are ONE box's measurements — on storage with a
    different decode/point-read break-even, a fixed threshold over- or
    under-admits. The store must derive the threshold from its OWN
    measured costs once it has them: slow decode + cheap point reads
    push the break-even UP (decode must earn more); fast decode +
    expensive point reads pull it DOWN to the floor."""
    mdir = _mini_mirror(spark, tmp_path)
    store = serving.MirrorStore(mdir)
    est = 100_000 * store.EST_DECODED_BYTES_PER_ROW  # a 100k-row bucket

    # unmeasured: the class constants stand in
    default_need = store._admit_threshold(est)
    assert default_need == min(
        store.POINT_ADMIT_CEIL,
        max(store.POINT_ADMIT_AFTER,
            int(100_000 * store.DECODE_US_PER_ROW / 1000.0
                / store.POINT_READ_COST_MS)))
    assert store.stats()["calibrated"] is False

    # synthetic SLOW decode (100 µs/row) + FAST point read (1 ms):
    # break-even = 100k rows x 100 µs / 1 ms = 10000 -> ceiling
    store._note_decode_cost(10_000, 1.0)       # 1 s / 10k rows
    store._note_point_cost(0.001)
    assert store.decode_us_per_row() == pytest.approx(100.0)
    assert store.point_read_cost_ms() == pytest.approx(1.0)
    assert store._admit_threshold(est) == store.POINT_ADMIT_CEIL
    assert store._admit_threshold(est) > default_need

    # fresh store, FAST decode (1 µs/row) + SLOW point read (100 ms):
    # break-even = 100k x 1 µs / 100 ms = 1 -> floor (admit quickly)
    fast = serving.MirrorStore(mdir)
    fast._note_decode_cost(100_000, 0.1)
    fast._note_point_cost(0.1)
    assert fast._admit_threshold(est) == fast.POINT_ADMIT_AFTER
    assert fast._admit_threshold(est) < default_need

    # sub-CAL_MIN_DECODE_ROWS decodes must NOT update the EWMA (their
    # µs/row is fixed-overhead noise, and tiny test buckets would
    # otherwise perturb every threshold assertion in this suite)
    noisy = serving.MirrorStore(mdir)
    noisy._note_decode_cost(10, 1.0)
    assert noisy._cal_decode_us_per_row is None


def test_calibrate_seeds_measured_costs(spark, tmp_path):
    """MirrorStore(calibrate=True) measures decode µs/row and filtered
    point-read ms against the store's OWN state at init (one smallest-
    bucket decode + one filtered read of the largest), so a store that
    never organically decodes still derives its break-even from this
    box, not the bench box the class constants came from."""
    mdir = _mini_mirror(spark, tmp_path, per=40)
    store = serving.MirrorStore(mdir, calibrate=True)
    st = store.stats()
    assert st["calibrated"] is True
    assert 0 < store._cal_decode_us_per_row <= 1000.0
    assert 0 < store._cal_point_read_ms <= 10_000.0
    assert st["decode_us_per_row"] == pytest.approx(
        store._cal_decode_us_per_row, abs=1e-3)

    # calibrate() is also callable standalone and reports what it saw
    out = store.calibrate()
    assert out["decode_rows"] > 0 and out["decode_s"] > 0
    assert out["point_read_s"] > 0

    # no state yet -> None, and the opt-in constructor must not raise
    empty = str(tmp_path / "empty-mirror")
    os.makedirs(empty, exist_ok=True)
    s2 = serving.MirrorStore(empty, calibrate=True)
    assert s2.calibrate() is None
    assert s2.stats()["calibrated"] is False


def test_calibrate_decode_seed_skips_noise_floor_buckets(spark, tmp_path):
    """ADVICE r12: the decode seed came from the SMALLEST bucket even
    below CAL_MIN_DECODE_ROWS — a measurement the passive path rejects
    as fixed-overhead noise — so a mirror with one tiny bucket started
    at up to the 1000 µs/row clamp and pushed every admission threshold
    to POINT_ADMIT_CEIL. The seed must come from a bucket the passive
    path would also accept when one exists, and stats() must report
    calibration per-metric."""
    from pufs_spark.streaming import mirror as M

    row = _cdc_row_factory()
    batch = [row(1, "upsert", "/", True, 0, None),
             row(1, "upsert", "/tiny", True, 0, None),
             row(1, "upsert", "/big", True, 0, None)]
    for j in range(3):  # noise-floor bucket
        batch.append(row(1, "upsert", f"/tiny/f{j}", False, 10 + j, f"t-{j}"))
    # one >= CAL_MIN_DECODE_ROWS bucket: paths bucket on their first
    # BUCKET_DEPTH(=2) components, so files at depth 3 under a shared
    # /big/sub prefix all land in a single bucket
    batch.append(row(1, "upsert", "/big/sub", True, 0, None))
    for j in range(1500):
        batch.append(row(1, "upsert", f"/big/sub/f{j}", False, 10 + j, f"b-{j}"))
    mdir = str(tmp_path / "mirror")
    M._fold_rows(str(tmp_path / "cat"), mdir, batch, spark=spark)

    store = serving.MirrorStore(mdir)
    out = store.calibrate()
    assert out["decode_rows"] >= store.CAL_MIN_DECODE_ROWS
    st = store.stats()
    assert st["calibrated_decode"] is True
    assert st["calibrated_point"] is True
    # the seed is a real marginal-cost number, nowhere near the clamp a
    # 3-row decode would have hit
    assert store._cal_decode_us_per_row < 1000.0


def test_passive_point_cost_measured_from_real_reads(spark, tmp_path):
    """Every filtered point read the store actually serves feeds the
    point-cost EWMA — the threshold tracks live storage with no
    explicit calibration step."""
    mdir = _mini_mirror(spark, tmp_path)
    store = serving.MirrorStore(mdir, max_cache_bytes=1)
    snap = store.snapshot()  # 1-byte cap: point mode
    assert snap.point_reads
    store.EST_DECODED_BYTES_PER_ROW = 0  # floor threshold: never admit
    assert store._cal_point_read_ms is None
    assert snap.lookup("/a/f1") == (False, 11, "b-a-1")
    assert snap.lookup("/a/f1") == (False, 11, "b-a-1")
    assert store.stats()["point_reads"] >= 2
    assert store._cal_point_read_ms is not None
    assert store._cal_point_read_ms > 0
