"""Session plumbing: the Python-worker daemon of local sessions, the
caller's settings it must keep, the package zip's lifetime and the
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


_CHILD = textwrap.dedent(
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
    }))
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def child_session(tmp_path_factory):
    """One short-lived process on ``local[1]`` with its own temp
    directory and a caller's ``spark.executorEnv.PYTHONPATH``."""
    base = tmp_path_factory.mktemp("child_session")
    mods, tmp = base / "mods", base / "tmp"
    mods.mkdir()
    tmp.mkdir()
    (mods / "dlws_caller_mod.py").write_text("VALUE = 41\n")
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(tmp),
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, ROOT, str(mods)],
        cwd=str(base), env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), str(mods), tmp


def test_caller_pythonpath_is_kept_beside_the_daemon(child_session):
    report, mods, _ = child_session
    assert report["value"] == 41
    assert report["shim"] == worker_daemon.__name__
    assert report["pythonpath"] == os.pathsep.join([mods, ROOT])


def test_package_zip_removed_at_exit(child_session):
    report, _, tmp = child_session
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
