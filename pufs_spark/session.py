"""SparkSession factory with scale-aware defaults.

Local-mode knobs are test-only; the config values that matter at cluster
scale (AQE, shuffle partitions, Arrow) are set identically for both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Local-JVM heap default: ``min(32g, ~70% of MemTotal)``, floor 2g.

    32g is the target on bench-class boxes (a cluster executor's
    share); 70% leaves the OS, the Python workers (one per core), and
    Arrow transfer buffers headroom so the heap never races the
    OOM-killer on small hosts. /proc/meminfo is Linux-only — any
    failure falls back to the conservative pre-r12 8g."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(32, int(total_gib * 0.7)))}g"
    except OSError:
        pass
    return "8g"


def _initial_shuffle_partitions(
    input_bytes: int | None, floor: int, cap: int
) -> int:
    """Size AQE's initialPartitionNum to the workload (VERDICT r13
    #2/#6): a flat 32x-cores start is right once shuffles carry GBs
    (R2 sf10 cached-merge A/B: 14-48 s at 1024 vs 70-140 s at 32) but
    costs ~25% per query at tiny SFs (r14 quiet-box A/B,
    tools/out/bench_r14_ab_initial32.json: 18 of 21 queries 17-53%
    faster at 32 on a 17.5 MB input). One planned partition per ~1 MB
    of ON-DISK input approximates 64 MB of in-memory shuffle per
    partition at parquet's typical 5-10x decompression factor —
    17.5 MB (sf0.1) floors at the core count, ~1.8 GB (sf10) caps at
    32x cores; both measured endpoints land on their measured-best
    setting, and the ramp between is monotone in data size."""
    if input_bytes is None:
        return cap
    return max(floor, min(cap, input_bytes // (1 << 20)))


def get_spark(
    app_name: str = "pufs_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    input_bytes: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the driver contract: ``local[$SPARK_GRAFT_CPUS]``
    (32 if unset). ``spark.sql.shuffle.partitions`` is sized to the core
    count — on a real cluster this would be ~2-3x total executor cores and
    AQE coalesces down at runtime.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Input-sized shuffles (VERDICT r12 #1): a FIXED partition
        # count is wrong in both directions — 32 partitions spill two
        # data decades up (R1/R2 measured 8-9x wall per 10x data at
        # sf10: each partition held 10x the rows it was sized for),
        # while a large fixed count is scheduling overhead at small
        # SFs. AQE coalescing only merges DOWN from the configured
        # count, never splits up past it — so start HIGH and let AQE
        # pick the runtime count from the actual map-output bytes
        # (~advisory 64MB per partition once data outgrows
        # cores-x-advisory; parallelismFirst keeps small compute-dense
        # shuffles at full parallelism instead of size-collapsing
        # them). 32x cores caps the planned count: at 64MB advisory
        # that covers ~64GB of shuffle per stage on this box before
        # partitions grow past the advisory again; a real cluster sets
        # the same small multiple of total cores. When the caller
        # knows its input size (bench passes the sf dir's bytes), the
        # start count scales with it instead of sitting at the cap —
        # see _initial_shuffle_partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(
                _initial_shuffle_partitions(
                    input_bytes,
                    floor=max(shuffle_partitions, cpus),
                    cap=max(shuffle_partitions, cpus * 32),
                )
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Required companion of the high initialPartitionNum: AQE is
        # forbidden from changing a CACHED plan's output partitioning
        # by default, so every persist() (e.g. near_dup_pairs' shared
        # signature frame) would materialize at the full initial
        # count — 1024 tiny blocks whose per-task overhead ran D1 ~2x
        # slower at sf1.0 (measured r13: min 10.0 s vs 5.0 s with this
        # on). We never rely on a cached frame's physical partitioning
        # for co-location, so letting AQE coalesce inside cached plans
        # is strictly a win here.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Scan-split floor (r16, guide §6): maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, bytes/cores)).
        # The 4 MB default models HDFS seek+open cost; on local/NVMe
        # (and object stores with range reads) 1 MB is realistic, and
        # the knob only bites when bytes/cores < 4 MB — the small-scan
        # regime where the 4 MB floor left e.g. the sf0.1 lineitem
        # scan at 3 tasks on 32 cores (measured r16 A/B over the six
        # lineitem-scanning headline queries: 10-35% per query at
        # sf0.1; BY CONSTRUCTION no effect once input/cores exceeds
        # 4 MB — at sf10 splits are ~40 MB, at 100 TB they are
        # maxPartitionBytes-sized).
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # In local mode the driver heap IS the executor heap: 8g split
        # 32 ways left ~150 MB execution memory per task and made any
        # corpus-sized broadcast an OOM (sf10 bench, r12). A real
        # cluster gives each executor 16-64g; size the single local JVM
        # like one — but derive the default from the BOX (ADVICE r12:
        # a flat 32g on a <32 GB host trades a contained Java OOM for
        # the OS OOM-killer once the lazily-committed heap fills).
        # PUFS_DRIVER_MEM still overrides outright.
        .config(
            "spark.driver.memory",
            os.environ.get("PUFS_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The driver-generated parquet uses TIMESTAMP(NANOS) which Spark
        # refuses by default; read as long and convert in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Off by default in Spark 4.1; the `pufs` data source implements
        # pushFilters (point lookups / path prefixes prune partition
        # planning driver-side and skip CAS opens entirely).
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make ``pufs_spark`` importable on executor Python workers.

    Several operators close over module-level helpers (e.g. the
    ``pandas_udf`` in operators/dedup.py, ``_set_bits`` in
    operators/indexes.py), which cloudpickle serializes BY REFERENCE —
    the worker must import the module. That holds when the driver runs
    from the repo root (workers inherit cwd) but not when the package
    is imported from an arbitrary path (a driver-side ``sys.path``
    entry is not propagated). Shipping a zip via ``addPyFile`` is the
    in-code equivalent of ``spark-submit --py-files`` and covers every
    deployment shape, including a real multi-node cluster. Once per
    SparkContext; ~10 ms for this package's size."""
    sc = spark.sparkContext
    if getattr(sc, "_pufs_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # The zip lives inside a PRIVATE per-process directory (mkdtemp,
    # mode 0700), not at a predictable path directly in the shared temp
    # dir: a fixed world-guessable name is an insecure temp file
    # (CWE-377 — another local user could pre-create the file and
    # retain write access to code that executors will import). The dir
    # is created once per process and reused by later SparkContexts in
    # the same process (executors fetch the zip from its original path
    # lazily, so it must outlive the context; one dir per process caps
    # the footprint at a single file, rewritten in place on re-ship).
    # atexit removes the dir on clean exit; SIGKILL'ed drivers can't
    # run atexit, so every ship also reaps siblings whose pid is dead.
    zip_path = _package_zip_path()
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for name in files:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    # Spark 4.1's STREAMING Python planner (python_streaming_source_
    # runner, which unpickles the pufs_commits DataSource) resolves its
    # includes under <userFiles>/streaming_job/ — streaming queries are
    # tagged with that job-artifact state — while addPyFile lands the
    # zip at the userFiles ROOT. A stream planned from a driver that
    # imported pufs_spark via sys.path (not cwd) therefore failed with
    # ModuleNotFoundError. The planner always runs on the driver, so a
    # driver-local mirror of the zip into that subdir closes the gap;
    # cwd-launched drivers never notice (import falls back to cwd).
    try:
        import shutil

        from pyspark.core.files import SparkFiles

        sj_dir = os.path.join(SparkFiles.getRootDirectory(), "streaming_job")
        os.makedirs(sj_dir, exist_ok=True)
        shutil.copy2(zip_path, os.path.join(sj_dir, os.path.basename(zip_path)))
    except Exception:  # noqa: BLE001 — artifact-dir convention may move;
        pass  # cwd-based imports still cover the repo-root launch shape
    sc._pufs_pkg_shipped = True


_PKG_PREFIX = "pufs_spark_pkg_"
_pkg_dir: str | None = None


def _package_zip_path() -> str:
    """Return the per-process package-zip path, creating its private dir.

    Directory name embeds ``<uid>_<pid>`` so crashed-driver leftovers are
    attributable: :func:`_reap_dead_pkg_dirs` removes any sibling whose
    embedded pid no longer exists (``os.kill(pid, 0)`` -> ESRCH). That
    reap-at-ship is the backstop for the one leak path atexit cannot
    cover — SIGKILL / OOM-killed drivers."""
    global _pkg_dir
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.gettempdir()
    _reap_dead_pkg_dirs(tmp)
    if _pkg_dir is None or not os.path.isdir(_pkg_dir):
        _pkg_dir = tempfile.mkdtemp(
            prefix=f"{_PKG_PREFIX}{os.getuid()}_{os.getpid()}_", dir=tmp
        )
        atexit.register(shutil.rmtree, _pkg_dir, ignore_errors=True)
    # Basename keeps the <uid>_<pid> tag: it is what executors see under
    # their userFiles dir, and the streaming-planner mirror copies it by
    # basename, so an attributable name aids debugging on real clusters.
    return os.path.join(
        _pkg_dir, f"{_PKG_PREFIX}{os.getuid()}_{os.getpid()}.zip"
    )


def _reap_dead_pkg_dirs(tmp: str) -> None:
    """Remove package dirs (and legacy flat zips) left by dead drivers.

    Only entries we own (st_uid check, lstat so a planted symlink is
    never followed) whose name parses as ``pufs_spark_pkg_<uid>_<pid>*``
    with a pid that is neither ours nor alive. Live foreign drivers and
    unparsable names are left alone, so concurrent sessions on one host
    never reap each other."""
    import shutil
    import stat

    uid = os.getuid()
    try:
        entries = os.listdir(tmp)
    except OSError:
        return
    for name in entries:
        if not name.startswith(f"{_PKG_PREFIX}{uid}_"):
            continue
        rest = name[len(_PKG_PREFIX) :].split("_")  # [uid, pid, rand?]
        try:
            pid = int(rest[1].removesuffix(".zip"))
        except (IndexError, ValueError):
            continue
        if pid == os.getpid() or _pid_alive(pid):
            continue
        path = os.path.join(tmp, name)
        try:
            st = os.lstat(path)
            if st.st_uid != uid:
                continue
            if stat.S_ISDIR(st.st_mode):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        except OSError:
            continue


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True
