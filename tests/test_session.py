"""Session construction: the config ``build_session`` hands the builder,
and the commit semantics of the streaming checkpoint file manager it
installs."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest

from pedsnetdcc_spark import session as session_mod
from pedsnetdcc_spark.session import CHECKPOINT_FILE_MANAGER

KEY = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every setting and
    returns a fake session, so no JVM starts."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self.config("spark.app.name", name)

    def master(self, master):
        return self.config("spark.master", master)

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def _built_conf(monkeypatch, **kw) -> dict[str, str]:
    builder = _RecordingBuilder()
    monkeypatch.setattr(session_mod, "SparkSession", SimpleNamespace(builder=builder))
    session_mod.build_session(**kw)
    return builder.conf


def test_build_session_reads_cpus_at_call_time(monkeypatch):
    """``SPARK_GRAFT_CPUS`` is read when the session is built, so the
    master and the shuffle partitions agree even when the variable
    changes after the module was imported; explicit arguments win."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _built_conf(monkeypatch)
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == "12"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    conf = _built_conf(monkeypatch)
    assert conf["spark.master"] == "local[5]"
    assert conf["spark.sql.shuffle.partitions"] == "5"

    conf = _built_conf(monkeypatch, master="local[2]", shuffle_partitions=7)
    assert conf["spark.master"] == "local[2]"
    assert conf["spark.sql.shuffle.partitions"] == "7"


def test_build_session_checkpoint_manager_default_and_override(monkeypatch):
    """The FileSystem-based checkpoint manager is the default, and an
    ``extra_conf`` entry for the same key replaces it."""
    assert _built_conf(monkeypatch)[KEY] == CHECKPOINT_FILE_MANAGER
    conf = _built_conf(monkeypatch, extra_conf={KEY: FILE_CONTEXT})
    assert conf[KEY] == FILE_CONTEXT


def _checkpoint_manager(spark, path, manager=None):
    """``CheckpointFileManager.create`` over ``path`` with the session's
    Hadoop conf (``manager`` overrides the class key in that copy)."""
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    if manager is not None:
        hadoop_conf.set(KEY, manager)
    jvm = spark._jvm
    factory = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return factory.create(jvm.org.apache.hadoop.fs.Path(str(path)), hadoop_conf)


def _write_atomic(spark, manager, path, data: bytes, overwrite: bool):
    out = manager.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(str(path)), overwrite)
    out.write(bytearray(data))
    out.close()


def test_checkpoint_manager_commit_semantics_on_file(spark, tmp_path):
    """On ``file:`` the session's checkpoint manager is the
    FileSystem-based class.  ``createAtomic(overwriteIfPossible=False)``
    onto an existing file raises on close and leaves the old bytes.
    With ``overwriteIfPossible=True`` the close succeeds; the overwrite
    is best-effort by Spark's contract, and here the ``file:``
    filesystem (Hive's ``ProxyLocalFileSystem``) follows the Hadoop
    ``FileSystem`` rule that a rename onto an existing file fails, so
    the first committed bytes stay.  The ``FileContext`` manager, still
    selectable through the same key, replaces them."""
    from py4j.protocol import Py4JJavaError

    manager = _checkpoint_manager(spark, tmp_path)
    assert manager.getClass().getName() == CHECKPOINT_FILE_MANAGER
    assert spark.conf.get(KEY) == CHECKPOINT_FILE_MANAGER

    target = tmp_path / "0"
    _write_atomic(spark, manager, target, b"old", overwrite=False)
    assert target.read_bytes() == b"old"
    with pytest.raises(Py4JJavaError, match="already exists"):
        _write_atomic(spark, manager, target, b"new", overwrite=False)
    assert target.read_bytes() == b"old"

    _write_atomic(spark, manager, target, b"new", overwrite=True)
    assert target.read_bytes() == b"old"

    other = _checkpoint_manager(spark, tmp_path, FILE_CONTEXT)
    assert other.getClass().getName() == FILE_CONTEXT
    _write_atomic(spark, other, target, b"new", overwrite=True)
    assert target.read_bytes() == b"new"
    with pytest.raises(Py4JJavaError, match="already exists"):
        _write_atomic(spark, other, target, b"newer", overwrite=False)
    assert target.read_bytes() == b"new"


_SPAWN_PROBE = textwrap.dedent(
    """
    import json, sys
    from pedsnetdcc_spark.session import build_session
    from pedsnetdcc_spark.streaming.incremental import streaming_interval_eras

    log, root, file_context = sys.argv[1:4]
    spark = build_session(app_name="spawn_probe", master="local[2]", shuffle_partitions=2,
                          extra_conf={"spark.driver.memory": "1g"})
    schema = "user_id long, start_ts timestamp, end_ts timestamp"

    def readlinks():
        with open(log) as f:
            return sum(1 for line in f if line.startswith("readlink"))

    def drain(tag):
        src = f"{root}/{tag}/src"
        for day in (1, 20):
            spark.sql(
                f"SELECT id % 8 AS user_id, TIMESTAMP'2024-01-{day:02d}' AS start_ts, "
                f"TIMESTAMP'2024-01-{day + 1:02d}' AS end_ts FROM range(32)"
            ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        eras = streaming_interval_eras(
            stream, ["user_id"], "start_ts", "end_ts", gap_days=2, watermark="1 day")
        before = readlinks()
        q = (eras.writeStream.format("parquet").option("path", f"{root}/{tag}/out")
             .option("checkpointLocation", f"{root}/{tag}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        batches = len([p for p in q.recentProgress if p["numInputRows"]])
        return {"readlink": readlinks() - before, "data_batches": batches}

    result = {
        "native": spark._jvm.org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded(),
        "default": drain("default"),
    }
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", file_context)
    result["file_context"] = drain("file_context")
    print(json.dumps(result))
    spark.stop()
    """
)


def test_stream_commits_fork_no_readlink(tmp_path):
    """Fresh JVM with logging ``readlink``/``chmod`` shims first on
    ``PATH``: a 2-batch stateful stream under the default checkpoint
    manager forks no ``readlink``.  The same stream under the
    ``FileContext`` manager is the control that shows the shims see the
    forks Hadoop's non-native local filesystem makes."""
    log = tmp_path / "spawns.log"
    log.touch()
    shims = tmp_path / "bin"
    shims.mkdir()
    for tool in ("readlink", "chmod"):
        real = shutil.which(tool)
        assert real, tool
        shim = shims / tool
        shim.write_text(f'#!/bin/sh\necho {tool} >> "{log}"\nexec "{real}" "$@"\n')
        shim.chmod(0o755)
    env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")]))
    done = subprocess.run(
        [sys.executable, "-c", _SPAWN_PROBE, str(log), str(tmp_path / "streams"), FILE_CONTEXT],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    if result["native"]:
        pytest.skip("native Hadoop library loaded: local renames fork nothing to count")
    assert result["file_context"]["data_batches"] == 2
    assert result["default"]["data_batches"] == 2
    assert result["file_context"]["readlink"] > 0, result
    assert result["default"]["readlink"] == 0, result
