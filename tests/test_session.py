"""Session plumbing: the Python-worker daemon of local sessions, the
caller's settings it must keep, the import path of each kind of
session (checkout or package zip), the zip's lifetime and the
persistent-RDD sweep between operations."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from data_lake_with_spark_spark import session, worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _count_reads(monkeypatch) -> list[int]:
    """Count ``zipimport._read_directory`` calls from here on."""
    calls = [0]
    stock = zipimport._read_directory

    def counting(archive):
        calls[0] += 1
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"dlws_zip_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("dlws_zip_mod_a", "dlws_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("dlws_zip_mod_a").X == 1

    # the stock call re-reads the archive even though nothing changed
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls[0] >= 1

    monkeypatch.setattr(worker_daemon, "_last_read", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches
    )
    importlib.invalidate_caches()  # the first patched call records a read
    calls[0] = 0
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls[0] == 0

    _write_zip(archive, {"dlws_zip_mod_a": "X = 1\n", "dlws_zip_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert calls[0] >= 1
    assert importlib.import_module("dlws_zip_mod_b").Y == 2


@pytest.mark.parametrize(
    ("phys_gib", "expect"), [(0.5, "1g"), (15, "7g"), (32, "16g"), (256, "24g")]
)
def test_driver_mem_is_half_of_physical_memory(monkeypatch, phys_gib, expect):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(phys_gib * (1 << 30)) // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._driver_mem() == expect
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_mem() == "3g"


def test_worker_task_rereads_no_zip_archive(spark):
    """At the stock daemon this reads ~16: one per zipimporter that
    ``pyspark.zip`` leaves on the worker."""

    def rereads(_):
        import importlib as il
        import zipimport as zi

        calls = [0]
        stock = zi._read_directory

        def counting(archive):
            calls[0] += 1
            return stock(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = stock
        yield calls[0]

    rdd = spark.sparkContext.parallelize([0, 1], 2)
    assert rdd.mapPartitions(rereads).collect() == [0, 0]


_ENGINE_CHILD = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    from data_lake_with_spark_spark.session import get_spark

    spark = get_spark(
        app_name="dlws-session-test",
        master="local[1]",
        shuffle_partitions=1,
        extra_conf={"spark.executorEnv.PYTHONPATH": sys.argv[2],
                    "spark.ui.enabled": "false"},
    )

    def probe(_):
        import zipimport
        import dlws_caller_mod
        yield (dlws_caller_mod.VALUE,
               zipimport.zipimporter.invalidate_caches.__module__)

    value, shim = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    print(json.dumps({
        "value": value,
        "shim": shim,
        "pythonpath": spark.conf.get("spark.executorEnv.PYTHONPATH"),
        "zip_dirs": sorted(n for n in os.listdir(os.environ["TMPDIR"])
                           if n.startswith("dlws_pkg_")),
        "files": list(spark.sparkContext.listFiles),
    }))
    spark.stop()
    """
)

#: A session built the way an external driver builds its own, then
#: handed to the package as ``__spark_entry__`` does.
_CALLER_CHILD = textwrap.dedent(
    """
    import json, os, sys, zipfile
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import SparkSession
    from data_lake_with_spark_spark.session import ensure_runtime_confs

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    ensure_runtime_confs(spark)

    def probe(_):
        import data_lake_with_spark_spark
        yield data_lake_with_spark_spark.__file__

    where = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    zip_dirs = sorted(n for n in os.listdir(os.environ["TMPDIR"])
                      if n.startswith("dlws_pkg_"))
    names = [n for d in zip_dirs for n in zipfile.ZipFile(
        os.path.join(os.environ["TMPDIR"], d, "dlws_pkg.zip")).namelist()]
    print(json.dumps({
        "package_file": where,
        "zip_dirs": zip_dirs,
        "zip_names": names,
        "files": list(spark.sparkContext.listFiles),
    }))
    spark.stop()
    """
)


def _run_child(base, script: str, *args: str) -> tuple[dict, str]:
    """Run ``script`` in a process of its own, with its own temp
    directory, no ``PYTHONPATH`` and its cwd outside the checkout;
    return its last stdout line as JSON and its temp directory. The
    child writes bytecode as a default interpreter does, so the
    package has a ``__pycache__`` for the zip to leave out."""
    tmp = base / "tmp"
    tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(tmp),
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    for name in ("PYTHONPATH", "PYTHONDONTWRITEBYTECODE"):
        env.pop(name, None)
    out = subprocess.run(
        [sys.executable, "-c", script, ROOT, *args],
        cwd=str(base), env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), str(tmp)


@pytest.fixture(scope="module")
def child_session(tmp_path_factory):
    """One short-lived :func:`get_spark` process on ``local[1]`` with a
    caller's ``spark.executorEnv.PYTHONPATH``."""
    base = tmp_path_factory.mktemp("child_session")
    mods = base / "mods"
    mods.mkdir()
    (mods / "dlws_caller_mod.py").write_text("VALUE = 41\n")
    report, tmp = _run_child(base, _ENGINE_CHILD, str(mods))
    return report, str(mods), tmp


@pytest.fixture(scope="module")
def caller_session(tmp_path_factory):
    """One short-lived process whose session a caller built on
    ``local[1]``; only its driver has the checkout on ``sys.path``."""
    return _run_child(tmp_path_factory.mktemp("caller_session"), _CALLER_CHILD)


def test_caller_pythonpath_is_kept_beside_the_daemon(child_session):
    report, mods, _ = child_session
    assert report["value"] == 41
    assert report["shim"] == worker_daemon.__name__
    assert report["pythonpath"] == os.pathsep.join([mods, ROOT])


def test_engine_session_ships_no_package_zip(child_session):
    report, _, _ = child_session
    assert report["zip_dirs"] == []
    assert not [f for f in report["files"] if f.endswith(".zip")]


def test_caller_session_workers_import_the_shipped_zip(caller_session):
    report, _ = caller_session
    zips = [f for f in report["files"] if f.endswith("dlws_pkg.zip")]
    assert len(zips) == 1
    init = os.path.join("dlws_pkg.zip", "data_lake_with_spark_spark", "__init__.py")
    assert report["package_file"].endswith(init)
    assert "data_lake_with_spark_spark/__init__.py" in report["zip_names"]
    assert not [n for n in report["zip_names"] if "__pycache__/" in n]


def test_package_zip_removed_at_exit(caller_session):
    report, tmp = caller_session
    assert len(report["zip_dirs"]) == 1  # shipped while the session ran
    assert not [n for n in os.listdir(tmp) if n.startswith("dlws_pkg_")]


def _persistent(spark) -> set[int]:
    return session._persistent_ids(spark.sparkContext._jsc.getPersistentRDDs())


def test_clear_persistent_rdds_keeps_the_callers_and_drops_ours(spark, monkeypatch):
    sc = spark.sparkContext
    kept = sc.parallelize([1, 2, 3], 1).persist()
    kept.count()
    monkeypatch.delitem(session._PRE_EXISTING_PERSISTENT, sc.applicationId, raising=False)
    session._snapshot_pre_existing_persistent(spark)
    before = _persistent(spark)
    assert kept.id() in before
    assert session._PRE_EXISTING_PERSISTENT[sc.applicationId] == before

    # held, so the JVM's cleaner cannot drop the checkpoint first
    frame = spark.range(10).localCheckpoint(eager=True)
    ours = _persistent(spark) - before
    assert ours
    assert session.clear_persistent_rdds(spark) == len(ours)
    assert _persistent(spark) == before
    kept.unpersist()
    del frame
