import os

from tests.conftest import SF_DIR

from pufs_spark.tables import TPCH_TABLES, load_tables


def test_load_all_tables(spark):
    dfs = load_tables(spark, SF_DIR)
    assert set(dfs) == set(TPCH_TABLES)
    assert dfs["region"].count() == 5
    assert dfs["lineitem"].count() > 1000


def test_ship_package_covers_streaming_planner(spark):
    """_ship_package must land the package zip BOTH at the userFiles
    root (task workers' includes) AND under streaming_job/ — Spark
    4.1's streaming Python planner resolves its includes under that
    job-artifact dir, so a pufs_commits stream planned from a driver
    that imported pufs_spark via sys.path (not cwd) dies with
    ModuleNotFoundError without the mirror copy. Pytest runs from the
    repo root (cwd masks the failure), so pin the mechanism: the zip
    exists at both paths."""
    from pyspark.core.files import SparkFiles

    root = SparkFiles.getRootDirectory()
    names = [n for n in os.listdir(root) if n.startswith("pufs_spark_pkg_")]
    assert names, f"package zip missing from userFiles root {root}"
    sj = os.path.join(root, "streaming_job")
    assert os.path.isdir(sj) and set(names) & set(os.listdir(sj)), (
        "package zip not mirrored into the streaming planner's "
        f"job-artifact dir {sj}"
    )


def test_ship_package_does_not_accrete_temp_zips(spark, tmp_path, monkeypatch):
    """Hermetic accretion/reaping check in a private temp dir (the real
    system temp dir may hold live zips from CONCURRENT drivers, which
    are not ours to count or delete — r9's flaky version globbed it).

    Pins three behaviors of the ship path:
    - the package is written inside ONE private 0700 dir per process,
      rewritten in place on re-ship (no accretion across contexts);
    - a planted orphan from a dead pid (the SIGKILL leak atexit cannot
      cover) is reaped at ship time — both dir-style and legacy
      flat-zip-style names;
    - a live foreign driver's dir is left alone.

    The ship runs against an isolated context: Spark's addPyFile and
    the streaming planner's userFiles dir are stubbed, so the shared
    SparkContext never sees the re-shipped zip. Registering a second
    file under the name the session already shipped fails in Spark
    whenever the contents differ, and every later task that fetches
    the package then fails too."""
    import stat
    import tempfile

    from pyspark.core.files import SparkFiles

    from pufs_spark import session as sess

    uid = os.getuid()
    sc = spark.sparkContext
    shipped: list = []
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(sess, "_pkg_dir", None)
    monkeypatch.setattr(sc, "addPyFile", shipped.append)
    userfiles = tmp_path / "userfiles"
    monkeypatch.setattr(SparkFiles, "getRootDirectory",
                        classmethod(lambda cls: str(userfiles)))
    monkeypatch.setattr(sc, "_pufs_pkg_shipped", False)

    # Plant: a dead-pid dir, a dead-pid legacy flat zip, a live-pid dir.
    # pid 2**22+5 exceeds the kernel pid_max ceiling -> guaranteed dead.
    dead = 2**22 + 5
    dead_dir = tmp_path / f"pufs_spark_pkg_{uid}_{dead}_x1"
    dead_dir.mkdir()
    (dead_dir / "stale.zip").write_bytes(b"junk")
    dead_zip = tmp_path / f"pufs_spark_pkg_{uid}_{dead}.zip"
    dead_zip.write_bytes(b"junk")
    live_dir = tmp_path / f"pufs_spark_pkg_{uid}_1_x2"  # pid 1 is alive
    live_dir.mkdir()

    sess._ship_package(spark)
    first = sess._pkg_dir
    assert first and first.startswith(str(tmp_path))
    assert stat.S_IMODE(os.stat(first).st_mode) == 0o700
    zip_name = f"pufs_spark_pkg_{uid}_{os.getpid()}.zip"
    assert os.listdir(first) == [zip_name]
    assert shipped == [os.path.join(first, zip_name)]
    assert os.listdir(userfiles / "streaming_job") == [zip_name]
    assert not dead_dir.exists() and not dead_zip.exists(), "orphans not reaped"
    assert live_dir.exists(), "live foreign driver's dir was reaped"

    # Re-ship: same dir, same single file — nothing accretes.
    sc._pufs_pkg_shipped = False
    sess._ship_package(spark)
    assert sess._pkg_dir == first
    mine = [
        n
        for n in os.listdir(tmp_path)
        if n.startswith(f"pufs_spark_pkg_{uid}_{os.getpid()}")
    ]
    assert mine == [os.path.basename(first)], f"accreted: {mine}"


def test_initial_shuffle_partitions_scales_with_input():
    """r14: AQE's planned start count follows input bytes — floor at
    the core count for tiny SFs (the flat 32x-cores start cost
    ~25%/query at sf0.1, tools/out/bench_r14_ab_initial32.json), cap
    at 32x cores for decade-scale tiles, 1 partition/MB between."""
    from pufs_spark.session import _initial_shuffle_partitions as f

    floor, cap = 32, 1024
    assert f(None, floor, cap) == cap           # unknown input: scale-safe
    assert f(17_500_000, floor, cap) == floor   # sf0.1-sized: floor
    assert f(512 << 20, floor, cap) == 512      # ramp: 1 per MiB
    assert f(2_505_240_175, floor, cap) == cap  # sf10 tile: cap
    assert f(0, floor, cap) == floor


def test_table_row_count_matches_footers(spark):
    """Footer walk equals a real count, and misses return None.

    Skips (not errors) where the driver testdata is absent (ADVICE
    r14: don't couple the suite to this box's layout)."""
    import pytest

    from pufs_spark.tables import load_table, table_row_count

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf):
        pytest.skip(f"driver testdata absent: {sf}")
    n = table_row_count(sf, "embeddings")
    assert n == load_table(spark, sf, "embeddings").count()
    assert table_row_count(sf, "no_such_table") is None


def test_feed_probe_handles_file_uri_and_remote_schemes(tmp_path):
    """ADVICE r13: a feed bound as file:/... must probe like a bare
    path; non-local schemes return None (observable no-op)."""
    from pufs_spark.operators.pipeline import _feed_data_files

    p = tmp_path / "feed"
    p.mkdir()
    (p / "a.json").write_text("x" * 100)
    bare = _feed_data_files(str(p))
    uri = _feed_data_files(f"file://{p}")
    assert bare == uri == [100]
    assert _feed_data_files("hdfs://nn/feed") is None
    assert _feed_data_files("s3a://bucket/feed") is None


def test_feed_probe_file_uri_with_glob_and_authority(tmp_path):
    """ADVICE r14: a file: URI containing glob metacharacters must not
    be truncated at '?' (urlparse treated it as a query string), and a
    non-local authority (file://host/path) must take no-spread rather
    than silently probing the local path."""
    from pufs_spark.operators.pipeline import _feed_data_files

    p = tmp_path / "feed"
    p.mkdir()
    (p / "a.json").write_text("x" * 100)
    (p / "ab.json").write_text("x" * 200)
    # '?' matches exactly one char: a.json only
    assert _feed_data_files(f"file:{p}/?.json") == [100]
    assert sorted(_feed_data_files(f"file:{p}/*.json") or []) == [100, 200]
    # bracket globs survive too
    assert _feed_data_files(f"file:{p}/[a].json") == [100]
    # non-local authority: refuse (was: silently statted /feed locally)
    assert _feed_data_files(f"file://otherhost{p}") is None
    # file:///path (empty authority) and file://localhost/path still work
    assert _feed_data_files(f"file://{p}") == [100, 200] or sorted(
        _feed_data_files(f"file://{p}") or []
    ) == [100, 200]
    assert sorted(_feed_data_files(f"file://localhost{p}") or []) == [
        100,
        200,
    ]


def test_lsh_env_overrides_never_fatal(monkeypatch):
    """ADVICE r14: a malformed PUFS_LSH_* env value falls back to the
    default instead of crashing module import."""
    from pufs_spark.operators.similarity import _env_int

    monkeypatch.setenv("PUFS_LSH_INLINE_MAX_ROWS", "not-an-int")
    assert _env_int("PUFS_LSH_INLINE_MAX_ROWS", 64 * 1024) == 64 * 1024
    monkeypatch.setenv("PUFS_LSH_INLINE_MAX_ROWS", "123")
    assert _env_int("PUFS_LSH_INLINE_MAX_ROWS", 64 * 1024) == 123
    monkeypatch.delenv("PUFS_LSH_INLINE_MAX_ROWS")
    assert _env_int("PUFS_LSH_INLINE_MAX_ROWS", 7) == 7


def test_footer_column_minmax(tmp_path, spark):
    """table_column_minmax reads row-group stats without a Spark job
    and returns None on missing tables/columns (advisory stance)."""
    from pufs_spark.tables import table_column_minmax

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"vec_id": pa.array([0, 3, 1, 2], type=pa.int64())})
    pq.write_table(t, str(tmp_path / "embeddings.parquet"), row_group_size=2)
    assert table_column_minmax(str(tmp_path), "embeddings", "vec_id") == (
        0,
        3,
    )
    assert table_column_minmax(str(tmp_path), "embeddings", "nope") is None
    assert table_column_minmax(str(tmp_path), "missing", "vec_id") is None
