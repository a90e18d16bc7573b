"""The local-only settings of ``session.get_spark``: the FileSystem
checkpoint manager and the worker daemon that keeps zip importers from
re-reading an unchanged archive on every task."""

from __future__ import annotations

import ast
import importlib
import sys
import types
import zipfile
import zipimport
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from flink_precisely_demo_spark import session
from flink_precisely_demo_spark.worker_daemon import caching_invalidate

ROOT = Path(__file__).resolve().parents[1]
DAEMON = "flink_precisely_demo_spark.worker_daemon"
FS_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
              "FileSystemBasedCheckpointFileManager")
LOCAL_KEYS = {"spark.sql.streaming.checkpointFileManagerClass",
              "spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"}


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 keeps its own invalidate_caches")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Only the first invalidation and the one after a rewrite read the
    archive; the rewritten archive's new module imports."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zmod_first": "VALUE = 1\n"})
    reads = []
    read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        caching_invalidate({}))
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zmod_first").VALUE == 1
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 1, "an unchanged archive is read once"

        _write_zip(archive, {"zmod_first": "VALUE = 1\n",
                             "zmod_second": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2, "a rewritten archive is re-read"
        assert importlib.import_module("zmod_second").VALUE == 2
        importlib.invalidate_caches()
        assert len(reads) == 2
    finally:
        for name in ("zmod_first", "zmod_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_python_tasks_run_under_the_engine_daemon(spark):
    """A pandas UDF's worker was forked by the engine daemon, which
    installed its ``invalidate_caches`` before CPython 3.13."""
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({
                "owner": [zipimport.zipimporter.invalidate_caches.__module__],
                "daemon": [DAEMON in sys.modules]})

    rows = spark.range(4, numPartitions=2).mapInPandas(
        probe, "owner string, daemon boolean").collect()
    owner = DAEMON if sys.version_info < (3, 13) else "zipimport"
    assert rows and {(r.owner, r.daemon) for r in rows} == {(owner, True)}


def test_local_session_uses_filesystem_checkpoint_manager(spark):
    """The test session (``local[8]``) runs with all three settings."""
    assert spark.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass") == FS_MANAGER
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON
    assert conf.get("spark.executorEnv.PYTHONPATH") == str(ROOT)


@pytest.mark.parametrize("master, local", [
    (None, True), ("local[2]", True), ("spark://nowhere:7077", False)])
def test_local_only_settings(monkeypatch, master, local):
    """The three settings reach a local master's builder only; a
    cluster master keeps Spark's defaults."""
    seen = {}

    def get_or_create(builder):
        seen.update(builder._options)
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(
            setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    if master is None:
        monkeypatch.delenv("SPARK_MASTER", raising=False)
    else:
        monkeypatch.setenv("SPARK_MASTER", master)
    session.get_spark("probe", cpus=2)
    assert seen["spark.master"] == (master or "local[2]")
    assert (LOCAL_KEYS <= seen.keys()) if local else not (
        LOCAL_KEYS & seen.keys())


def test_local_settings_have_one_owner():
    """The checkpoint-manager and daemon-module keys and the
    ``pyspark.daemon`` import appear in session.py and the daemon
    module only."""
    keys = ("spark.sql.streaming.checkpointFileManagerClass",
            "spark.python.daemon.module")
    sites = set()
    files = [*(ROOT / "flink_precisely_demo_spark").rglob("*.py"),
             *(ROOT / "scripts").glob("*.py"), *ROOT.glob("*.py")]
    for path in sorted(files):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and any(k in node.value for k in keys)) or (
                    isinstance(node, ast.ImportFrom) and (
                        node.module == "pyspark.daemon" or (
                            node.module == "pyspark" and any(
                                a.name == "daemon" for a in node.names)))) or (
                    isinstance(node, ast.Import) and any(
                        a.name == "pyspark.daemon" for a in node.names)):
                sites.add(str(path.relative_to(ROOT)))
    assert sites == {"flink_precisely_demo_spark/session.py",
                     "flink_precisely_demo_spark/worker_daemon.py"}
