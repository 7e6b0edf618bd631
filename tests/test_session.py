"""Session defaults, the Python worker daemon, and the settle()
stage-boundary contract."""

import os
import subprocess
import sys
import threading
import zipfile
import zipimport

import pytest

from pyspark.sql import functions as F

from webloghunter_spark import session as S


def test_session_conf_defaults(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_session_names_the_worker_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "webloghunter_spark.pydaemon"
    paths = spark.conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)
    assert S._PACKAGE_ROOT in paths


def test_workers_run_the_stamped_zip_invalidation(spark):
    """A pandas UDF reports, from inside a Python worker, which
    zipimporter.invalidate_caches it runs."""

    @F.pandas_udf("string")
    def which(ids):
        import zipimport

        return ids.map(lambda _: zipimport.zipimporter.invalidate_caches.__qualname__)

    got = {r.w for r in spark.range(0, 4, 1, 2).select(which("id").alias("w")).collect()}
    patched = sys.version_info < (3, 12)
    assert got == {"stamped_invalidate_caches.<locals>.invalidate_caches"
                   if patched else "zipimporter.invalidate_caches"}


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12 reads zip directories lazily")
def test_zip_directory_is_reread_only_after_a_change(tmp_path, monkeypatch):
    from webloghunter_spark.pydaemon import stamped_invalidate_caches

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))
    invalidate = stamped_invalidate_caches(zipimport.zipimporter.invalidate_caches)
    path = str(tmp_path / "m.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "X = 1\n")
    imp, twin = zipimport.zipimporter(path), zipimport.zipimporter(path)
    reads.clear()
    invalidate(imp)  # first sight of the archive: read
    invalidate(imp)
    invalidate(twin)
    assert reads == [path]
    assert imp.find_spec("b") is None

    with zipfile.ZipFile(path, "w") as z:  # rewritten: read afresh
        z.writestr("a.py", "X = 1\n")
        z.writestr("b.py", "Y = 2\n")
    invalidate(imp)
    assert reads == [path, path]
    assert imp.find_spec("b") is not None
    invalidate(twin)
    assert reads == [path, path] and twin.find_spec("b") is not None

    other = str(tmp_path / "n.zip")  # a new archive: read
    with zipfile.ZipFile(other, "w") as z:
        z.writestr("c.py", "Z = 3\n")
    invalidate(zipimport.zipimporter(other))
    assert reads[-1] == other


def _installed_matches_zip() -> bool:
    """Whether the pyspark the driver imported has the same
    pyspark/version.py as $SPARK_HOME's pyspark.zip."""
    import pyspark

    from webloghunter_spark.pydaemon import _dir_version, _zip_version

    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip")
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    return _zip_version(lib) is not None and _zip_version(lib) == _dir_version(site)


def test_workers_import_compiled_pyspark(spark):
    """A pandas UDF reports where its worker imported pyspark from: the
    installed package when its version.py matches the zip's."""

    @F.pandas_udf("string")
    def where(ids):
        import pyspark

        return ids.map(lambda _: pyspark.__file__)

    got = {r.w for r in spark.range(0, 4, 1, 2).select(where("id").alias("w")).collect()}
    assert len(got) == 1
    (path,) = got
    if _installed_matches_zip():
        assert ".zip" not in path, path
    else:
        assert ".zip" in path, path


def _fake_pyspark_zip(path, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", version)


def _fake_pyspark_dir(root, version):
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(version)


def test_spark_zips_move_behind_a_matching_install(tmp_path):
    from webloghunter_spark.pydaemon import zips_behind_installed

    lib = tmp_path / "lib"
    lib.mkdir()
    pz, py4j = str(lib / "pyspark.zip"), str(lib / "py4j-src.zip")
    _fake_pyspark_zip(pz, "__version__ = '4.1.2'\n")
    with zipfile.ZipFile(py4j, "w") as z:
        z.writestr("py4j/__init__.py", "")
    site = tmp_path / "site"
    _fake_pyspark_dir(site, "__version__ = '4.1.2'\n")
    other = str(tmp_path / "other")
    path = [pz, py4j, other, str(site), "/x"]
    assert zips_behind_installed(path) == [other, str(site), pz, py4j, "/x"]


def test_spark_zips_stay_first_on_a_version_mismatch(tmp_path):
    from webloghunter_spark.pydaemon import zips_behind_installed

    pz = str(tmp_path / "pyspark.zip")
    _fake_pyspark_zip(pz, "__version__ = '4.1.2'\n")
    site = tmp_path / "site"
    _fake_pyspark_dir(site, "__version__ = '4.0.0'\n")
    path = [pz, str(site)]
    assert zips_behind_installed(path) == path
    assert zips_behind_installed([str(site)]) == [str(site)]  # no zip at all


def test_udf_runs_from_a_driver_outside_the_repo(tmp_path):
    """Spark's workers start the daemon module by name, so they must
    find the package when the driver's cwd is elsewhere and nothing on
    PYTHONPATH points at it."""
    script = tmp_path / "drive.py"
    script.write_text(f"""
import sys
sys.path.insert(0, {S._PACKAGE_ROOT!r})
from pyspark.sql import functions as F
from webloghunter_spark import get_spark

spark = get_spark(app_name="cwd-probe", master="local[1]", shuffle_partitions=1)

@F.pandas_udf("long")
def plus1(s):
    return s + 1

print("SUM", spark.range(3).select(plus1("id").alias("x")).agg(F.sum("x")).first()[0])
spark.stop()
""")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["WLH_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert "SUM 6" in out.stdout, out.stderr[-3000:]


def test_settled_rows_needs_no_extra_job(spark):
    """settle()'s checkpoint job carries the row count: settled_rows()
    starts no job of its own."""
    sc = spark.sparkContext
    df = spark.range(100).filter(F.col("id") % 3 == 0)
    with S.materialized_scope():
        sc.setJobGroup("settled-rows-probe", "settle then settled_rows")
        try:
            cut = S.settle(df)
            jobs = len(sc.statusTracker().getJobIdsForGroup("settled-rows-probe"))
            assert S.settled_rows(cut) == 34
            assert S.settled_rows(cut) == 34  # read again: still no job
            after = len(sc.statusTracker().getJobIdsForGroup("settled-rows-probe"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs > 0 and after == jobs


def test_settle_empty_frame_counts_zero(spark):
    with S.materialized_scope():
        assert S.settled_rows(S.settle(spark.range(0))) == 0
        assert S.settled_rows(S.settle(spark.range(10).filter("id < 0"))) == 0


def test_settled_rows_counts_an_unsettled_frame_without_hanging(spark):
    """A frame settle() did not return has no observation to read:
    settled_rows() must count instead of blocking."""
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    got = []
    with S.materialized_scope():
        kept = S.materialize(df)
        t = threading.Thread(target=lambda: got.append(S.settled_rows(kept)),
                             daemon=True)
        t.start()
        t.join(timeout=300)
    assert got == [10]


def test_release_drops_settled_counts(spark):
    with S.materialized_scope():
        cut = S.settle(spark.range(5))
        assert cut in S._SETTLED_ROWS
    assert cut not in S._SETTLED_ROWS
    cut = S.settle(spark.range(5))
    assert S.settled_rows(cut) == 5
    S.release_materialized()
    assert cut not in S._SETTLED_ROWS


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_scopes_on_two_threads_release_only_their_own_frames(spark):
    """Each driver thread's materialized_scope() is a run of its own.
    Thread A opens a scope and persists a frame; thread B then opens
    one and persists another; A's scope exits first. B's frame must
    stay cached until B's own scope exits."""
    from pyspark.storagelevel import StorageLevel

    a_made, b_made, a_done = threading.Event(), threading.Event(), threading.Event()
    frames, seen = {}, {}
    cached = lambda key: frames[key].storageLevel != StorageLevel.NONE  # noqa: E731

    def thread_a():
        with S.materialized_scope():
            frames["a"] = S.materialize(spark.range(31).selectExpr("id * 3 AS a"))
            a_made.set()
            b_made.wait(60)
        a_done.set()

    def thread_b():
        a_made.wait(60)
        with S.materialized_scope():
            frames["b"] = S.materialize(spark.range(37).selectExpr("id * 5 AS b"))
            b_made.set()
            a_done.wait(60)
            seen["a"], seen["b"] = cached("a"), cached("b")

    root = len(S._MATERIALIZED)
    threads = [threading.Thread(target=f, daemon=True) for f in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert seen == {"a": False, "b": True}
    assert not cached("b")
    assert len(S._MATERIALIZED) == root


def test_dataset_diff_replays_register_in_the_callers_run(spark):
    """dataset_diff replays its two funnels on pool threads. What they
    persist belongs to the caller's run: the caller's scope frees all
    of it, and the root run gains nothing."""
    from webloghunter_spark.pipelines.curate import dataset_diff

    docs = [(i, " ".join(f"tok{i}x{j} the of and is on a" for j in range(8)))
            for i in range(1, 6)]
    old = spark.createDataFrame(docs[:4], "doc_id long, text string")
    new = spark.createDataFrame(docs[1:] + [(9, "tiny")], "doc_id long, text string")
    root = len(S._MATERIALIZED)
    before = _persistent_rdds(spark)
    with S.materialized_scope():
        out = dataset_diff(old, new, min_quality_bp=1000, min_tokens=5).collect()
        assert _persistent_rdds(spark) - before
    assert sum(r.n for r in out) == 6
    assert _persistent_rdds(spark) <= before
    assert len(S._MATERIALIZED) == root
