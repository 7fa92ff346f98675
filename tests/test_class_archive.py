"""The driver JVM's class-data-sharing archive (``session.get_spark``):
dumped by a session that finds none, promoted only once complete, mapped
by the next session, swept on a key change, and kept off stdout and out
of the way of a real Spark conf dir. Sessions run in subprocesses with
their own cache dir, so each starts its own JVM."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:  # when run as a script from another cwd
    sys.path.insert(0, str(ROOT))

from pmp_analytics_spark.session import (  # noqa: E402
    _CLASSPATH_ENV,
    ClassArchive,
    archive_key,
    plan_class_archive,
)

MARKER = (
    "[9.9s][info][cds,dynamic] Written dynamic archive 0x800000000 - 0x801000000"
    " [984 bytes header, {} bytes total]\n"
)


def _session(tmp_path: Path, cache: Path, conf_dir: Path) -> dict:
    """Run this file as a session in a subprocess; return its one line.
    ``capture_output`` waits for the JVM too, which holds the pipes until
    it has exited and written any dump."""
    env = {
        **{k: v for k, v in os.environ.items() if k not in _CLASSPATH_ENV},
        "XDG_CACHE_HOME": str(cache),
        "SPARK_CONF_DIR": str(conf_dir),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    done = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    lines = done.stdout.splitlines()
    assert len(lines) == 1, done.stdout[-3000:]
    return json.loads(lines[0])


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _isolate(monkeypatch, cache: Path) -> None:
    """An in-process plan against its own cache dir and environment."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    for name in ("SPARK_CONF_DIR", *_CLASSPATH_ENV):
        monkeypatch.delenv(name, raising=False)


@contextmanager
def _holding(path: Path):
    """For the ``with`` block, a live process that names ``path`` as its
    dump on its command line, as a JVM still to write that dump at exit
    does."""
    holder = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(120)", f"-XX:ArchiveClassesAtExit={path}"]
    )
    try:
        deadline = time.time() + 30
        while str(path).encode() not in Path(f"/proc/{holder.pid}/cmdline").read_bytes():
            assert time.time() < deadline, "the holder never exec'd"
            time.sleep(0.05)
        yield
    finally:
        holder.kill()
        holder.wait()


def _templates_only(path: Path) -> Path:
    path.mkdir()
    (path / "spark-defaults.conf.template").write_text("spark.pmp.probe from-template\n")
    return path


def test_archive_is_dumped_then_promoted_and_mapped(tmp_path):
    """A session with a new cache dir neither dumps nor maps, so a fresh
    container pays nothing for an archive it would throw away. The next
    session finds the cache kept, dumps at exit and prints nothing but its
    own line. Torn dumps of dead sessions (cut short, with or without the
    completion line in their log) are never promoted and are removed, so
    the session after dumps again; the one after that maps that complete
    dump and prints nothing else either."""
    cache = tmp_path / "cache"
    store = cache / "pmp_analytics_spark"
    conf_dir = _templates_only(tmp_path / "conf")
    fresh = _session(tmp_path, cache, conf_dir)
    assert fresh["count"] == 1000
    assert fresh["state"] == f"off: cache dir {store} is new: a launch that finds it kept dumps the archive"
    assert fresh["jvm_flags"] == [] and fresh["jvm_conf_dir"] == str(conf_dir)
    assert {p.name for p in store.iterdir()} == {"empty-conf"}

    first = _session(tmp_path, cache, conf_dir)
    assert first["count"] == 1000
    assert first["state"].startswith("dumping "), first
    assert any(f.startswith("-XX:ArchiveClassesAtExit=") for f in first["jvm_flags"]), first
    # the JVM got the empty conf dir; this process kept its own
    assert first["jvm_conf_dir"] == str(store / "empty-conf")
    assert first["conf_dir"] == str(conf_dir)

    (dump,) = store.glob("*.*.jsa")
    key = dump.name.split(".")[0]
    log = dump.with_suffix(".log").read_text()
    assert "Written dynamic archive" in log
    torn = dump.read_bytes()[: 16 * 2**20]
    dump.unlink()
    dump.with_suffix(".log").unlink()
    truncated, unmarked = (f"{store}/{key}.{_dead_pid()}" for _ in range(2))
    assert truncated != unmarked
    Path(truncated + ".jsa").write_bytes(torn)
    Path(truncated + ".log").write_text(log)
    Path(unmarked + ".jsa").write_bytes(torn)
    Path(unmarked + ".log").write_text(log.split("Written dynamic archive")[0])

    second = _session(tmp_path, cache, conf_dir)
    assert second["count"] == 1000
    assert second["state"].startswith("dumping "), second
    (dump,) = store.glob("*.*.jsa")
    assert str(dump) not in (truncated + ".jsa", unmarked + ".jsa")
    assert {p.name for p in store.glob("*.log")} == {dump.with_suffix(".log").name}

    inode = dump.stat().st_ino
    third = _session(tmp_path, cache, conf_dir)
    archive = store / f"{key}.jsa"
    assert third["count"] == 1000
    assert third["state"].startswith(f"mapped {archive.name} "), third
    assert third["mapped"] == [str(archive)]
    assert archive.stat().st_ino == inode
    assert {p.name for p in store.iterdir()} == {"empty-conf", archive.name}


def test_key_change_leaves_one_archive(tmp_path, monkeypatch):
    """A Spark jar that changes gives a new key: the old key's archive
    and the dead dumps go, a dump still named on a live command line
    stays until its process exits, and the new key's dump, once complete,
    is the one archive left. A cache dir copied to another path gets a
    new key too."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    jar = home / "jars" / "core.jar"
    jar.write_bytes(b"PK" * 100)
    _isolate(monkeypatch, tmp_path / "cache")
    store = tmp_path / "cache" / "pmp_analytics_spark"

    def complete(dump: str) -> None:
        Path(dump).write_bytes(b"\0" * 4096)
        Path(dump[: -len(".jsa")] + ".log").write_text(MARKER.format(4000))

    assert plan_class_archive(str(home), {}).mode == "off"  # a new cache dir
    plan = plan_class_archive(str(home), {})
    assert plan.mode == "dump"
    complete(plan.path)
    plan = plan_class_archive(str(home), {})
    old = store / Path(plan.path).name
    assert (plan.mode, plan.path) == ("map", str(old))

    stem = old.name[: -len(".jsa")]
    dead = store / f"{stem}.{_dead_pid()}.jsa"
    complete(str(dead))
    live = store / f"{stem}.424242.jsa"
    live.write_bytes(b"\0" * 10)
    with _holding(live):
        os.utime(jar, ns=(0, 10**18))
        plan = plan_class_archive(str(home), {})
        assert plan.mode == "dump" and not Path(plan.path).name.startswith(stem)
        assert sorted(p.name for p in store.glob("*.jsa")) == [live.name]
    complete(plan.path)
    plan = plan_class_archive(str(home), {})
    assert plan.mode == "map"
    assert {p.name for p in store.iterdir()} == {"empty-conf", Path(plan.path).name}

    # the JVM refuses an archive dumped with its conf dir at another path,
    # so a copied cache dir keys anew and drops the copied archive
    shutil.copytree(tmp_path / "cache", tmp_path / "copy")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "copy"))
    plan = plan_class_archive(str(home), {})
    assert plan.mode == "dump"
    assert [p.name for p in (tmp_path / "copy" / "pmp_analytics_spark").iterdir()] == ["empty-conf"]


def test_live_dump_of_the_same_key_turns_the_archive_off(tmp_path, monkeypatch):
    """A kept cache dir with no archive, where another live JVM is already
    dumping this key: the launch runs without an archive instead of
    dumping a second one, and leaves the other dump alone. Once that JVM
    has exited, the next launch dumps."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "core.jar").write_bytes(b"PK" * 100)
    _isolate(monkeypatch, tmp_path / "cache")
    store = tmp_path / "cache" / "pmp_analytics_spark"
    assert plan_class_archive(str(home), {}).mode == "off"  # a new cache dir
    key = archive_key(str(home), str(store / "empty-conf"))
    live = store / f"{key}.424242.jsa"
    live.write_bytes(b"\0" * 10)
    with _holding(live):
        plan = plan_class_archive(str(home), {})
        assert plan == ClassArchive("off", reason=f"another JVM is dumping {key}"), plan
        assert {p.name for p in store.iterdir()} == {"empty-conf", live.name}
    plan = plan_class_archive(str(home), {})
    assert plan.mode == "dump" and plan.path != str(live), plan
    assert {p.name for p in store.iterdir()} == {"empty-conf"}


def test_archive_off_reasons(tmp_path, monkeypatch):
    """Without a usable cache dir, or with classpath entries the key does
    not cover, the JVM launches without the archive and says why."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    _isolate(monkeypatch, tmp_path / "a file")
    plan = plan_class_archive(str(home), {})
    assert plan.mode == "off" and "cannot be passed in JVM options" in plan.reason
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    plan = plan_class_archive(str(home), {})
    assert plan.mode == "off" and plan.reason.startswith("cache dir "), plan
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    plan = plan_class_archive(str(home), {})
    assert plan.mode == "off" and " is new: " in plan.reason
    assert plan_class_archive(str(home), {}).mode == "dump"
    plan = plan_class_archive(str(home), {"spark.driver.extraClassPath": "/x.jar"})
    assert plan.mode == "off" and "spark.driver.extraClassPath" in plan.reason
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    plan = plan_class_archive(str(home), {})
    assert plan == ClassArchive("off", reason="extra classpath entries from HADOOP_CONF_DIR")


def test_no_process_list_turns_the_archive_off(tmp_path, monkeypatch):
    """Without ``/proc`` a dump still being written cannot be told from a
    dead one, so nothing is promoted, deleted or dumped: a kept cache dir
    stays as it was."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    _isolate(monkeypatch, tmp_path / "cache")
    store = tmp_path / "cache" / "pmp_analytics_spark"
    (store / "empty-conf").mkdir(parents=True)
    (store / "0123456789abcdef.99999.jsa").write_bytes(b"\0" * 10)
    before = sorted(p.name for p in store.iterdir())
    listdir = os.listdir

    def no_proc(path="."):
        if path == "/proc":
            raise FileNotFoundError(2, "No such file or directory", path)
        return listdir(path)

    monkeypatch.setattr(os, "listdir", no_proc)
    plan = plan_class_archive(str(home), {})
    assert plan.mode == "off" and plan.reason.startswith("no process list "), plan
    assert sorted(p.name for p in store.iterdir()) == before


def test_real_conf_dir_turns_the_archive_off(tmp_path):
    """A conf dir holding a real ``spark-defaults.conf`` stays the JVM's
    conf dir: its setting reaches the session, no archive flag is passed
    and nothing is dumped."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.pmp.probe from-conf-dir\n")
    cache = tmp_path / "cache"
    out = _session(tmp_path, cache, conf_dir)
    assert out["probe"] == "from-conf-dir"
    assert out["state"] == f"off: conf dir {conf_dir} holds spark-defaults.conf", out
    assert out["jvm_flags"] == [] and out["jvm_conf_dir"] == str(conf_dir)
    assert not list(cache.glob("**/*.jsa"))


def _self_check() -> None:
    """One session: its row count, archive state and the JVM's view."""
    from pmp_analytics_spark.session import cache_dir, class_archive_state, get_spark

    spark = get_spark("class-archive-probe", shuffle_partitions=4)
    jvm = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{jvm}/cmdline", "rb") as f:
        argv = f.read().decode().split("\0")
    with open(f"/proc/{jvm}/environ", "rb") as f:
        jvm_env = dict(e.split("=", 1) for e in f.read().decode().split("\0") if "=" in e)
    with open(f"/proc/{jvm}/maps") as f:
        mapped = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa") and cache_dir() in line})
    print(
        json.dumps(
            {
                "count": spark.range(1000).count(),
                "state": class_archive_state(spark),
                "mapped": mapped,
                "jvm_flags": [a for a in argv if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a],
                "jvm_conf_dir": jvm_env.get("SPARK_CONF_DIR"),
                "conf_dir": os.environ.get("SPARK_CONF_DIR"),
                "probe": spark.sparkContext.getConf().get("spark.pmp.probe", None),
            }
        )
    )


if __name__ == "__main__":
    _self_check()
