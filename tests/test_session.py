"""``session``'s class-path decision for the local Hadoop layer, checked
without starting a JVM."""

from __future__ import annotations

import logging
import os

from kinesis_sample_spark import session


def _fail_run(*args, **kwargs):
    raise AssertionError(f"javac ran: {args}")


def test_cache_hit_runs_no_javac(tmp_path, monkeypatch):
    """A miss compiles once into a directory renamed into the cache; the
    next session finds it there and runs no ``javac``."""
    calls = []

    def fake_javac(cmd, check):
        calls.append(cmd)
        open(os.path.join(cmd[cmd.index("-d") + 1], "NioLocalFileSystem.class"), "w").close()

    monkeypatch.setattr(session, "_JVM_CACHE", str(tmp_path))
    monkeypatch.setattr(session, "_javac", lambda: "javac")
    monkeypatch.setattr(session.subprocess, "run", fake_javac)
    compiled = session._local_hadoop_conf()
    assert len(calls) == 1

    monkeypatch.setattr(session.subprocess, "run", _fail_run)
    assert session._local_hadoop_conf() == compiled
    (classes,) = tmp_path.iterdir()
    assert os.listdir(classes) == ["NioLocalFileSystem.class"]
    assert compiled == {
        "spark.driver.extraClassPath": session._JVM_DIR + os.pathsep + str(classes),
        "spark.hadoop.fs.file.impl": "kinesis_sample_spark.jvm.NioLocalFileSystem",
    }


def test_no_javac_keeps_stock_file_system_and_yarn_shadow(tmp_path, monkeypatch, caplog):
    monkeypatch.setattr(session, "_JVM_CACHE", str(tmp_path / "cache"))
    monkeypatch.setattr(session.subprocess, "run", _fail_run)
    monkeypatch.setenv("JAVA_HOME", str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path))

    with caplog.at_level(logging.WARNING, logger=session.__name__):
        conf = session._local_hadoop_conf()
    assert conf == {"spark.driver.extraClassPath": session._JVM_DIR}
    assert os.path.isfile(os.path.join(session._JVM_DIR, "yarn-default.xml"))
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert not (tmp_path / "cache").exists()
