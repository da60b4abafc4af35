"""The driver JVM's class-data archive (``session.build_session``).

The unit tests need no JVM: they drive the key, the plan, the sweep and
the publish step on files under ``tmp_path``. One subprocess test records
an archive in a first session and checks that the driver JVM of a second
session loads Spark's classes from it.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import warnings

import pytest

from highspeedrailwaybigdatasystem_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


class _Exited:
    """A stand-in for the recording JVM's ``Popen``: already exited."""

    def __init__(self, code: int):
        self.code = code
        self.stdin = open(os.devnull, "wb")

    def wait(self, timeout=None):
        return self.code


def _recording(cds_dir) -> session.ClassArchive:
    plan = session.ClassArchive("recording", str(cds_dir / "k.jsa"), str(cds_dir / "conf"))
    with open(plan.claim, "w") as fh:
        fh.write(str(os.getpid()))
    return plan


def _write_part(plan: session.ClassArchive, header: bytes) -> None:
    with open(plan.part, "wb") as fh:
        fh.write(header + b"\0" * 4096)


def test_key_changes_with_jar_size_or_mtime(tmp_path):
    java = tmp_path / "java"
    java.write_bytes(b"java")
    jar = tmp_path / "a.jar"
    jar.write_bytes(b"0123")
    args = (str(java), [str(jar)], "/conf", "-Xmx8g")
    key = session.archive_key(*args)
    assert session.archive_key(*args) == key
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    moved = session.archive_key(*args)
    assert moved != key
    jar.write_bytes(b"01234")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert session.archive_key(*args) not in (key, moved)
    assert session.archive_key(str(java), [str(jar)], "/conf", "-Xmx4g") != key


def test_real_conf_file_disables_archive(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.eventLog.enabled true\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    cds = tmp_path / "cds"
    cds.mkdir()
    assert session.plan_class_archive(str(cds), "-Xmx8g") is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert os.listdir(cds) == []


def test_templates_only_conf_is_swapped_for_the_launch(tmp_path, monkeypatch):
    """A conf dir of templates is replaced by an empty one while the JVM
    starts and restored after; a failed launch falls back to a plain one
    with one warning and releases its claim."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    cds = tmp_path / "cds"
    cds.mkdir()
    monkeypatch.setattr(session, "cache_dir", lambda name: str(cds))
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "_archive_state", "mapped")
    launches = []

    class Builder:
        def __init__(self):
            self.options = {}

        def config(self, key, value):
            self.options[key] = value
            return self

        def getOrCreate(self):
            launches.append((os.environ["SPARK_CONF_DIR"], dict(self.options)))
            if len(launches) == 1:
                raise RuntimeError("the driver did not start")
            return "spark"

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert session._get_or_create(Builder(), "-Xmx8g") == "spark"
    (conf1, opts1), (conf2, opts2) = launches
    assert conf1 == str(cds / "conf") and os.listdir(conf1) == []
    assert "-XX:ArchiveClassesAtExit=" in opts1["spark.driver.extraJavaOptions"]
    assert conf2 == str(conf) and opts2["spark.driver.extraJavaOptions"] == ""
    assert len(caught) == 1, [str(w.message) for w in caught]
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert session.class_archive_state() == "off"
    assert sorted(os.listdir(cds)) == ["conf"]


def test_archive_dir_is_not_under_per_run_scratch(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    monkeypatch.setenv("TMPDIR", str(tmp_path / "tmp"))
    path = os.path.realpath(session.cache_dir("cds"))
    assert path == os.path.join(os.path.realpath(ROOT), "_scratch", "cds")
    for var in ("SPARK_GRAFT_SCRATCH", "TMPDIR"):
        assert not path.startswith(os.path.realpath(os.environ[var]))


def test_stale_part_file_is_never_published(tmp_path):
    magic = session._DYNAMIC_ARCHIVE_MAGIC
    # The recording JVM failed: its part file goes, with the claim.
    plan = _recording(tmp_path)
    _write_part(plan, magic)
    with pytest.warns(UserWarning, match="exited 1"):
        assert not session.publish_archive(plan, _Exited(1))
    assert os.listdir(tmp_path) == []
    # Exited 0 but the header was never written: a partial archive.
    plan = _recording(tmp_path)
    _write_part(plan, b"\0\0\0\0")
    with pytest.warns(UserWarning):
        assert not session.publish_archive(plan, _Exited(0))
    assert os.listdir(tmp_path) == []
    # A complete archive of a JVM that exited 0 is published.
    plan = _recording(tmp_path)
    _write_part(plan, magic)
    assert session.publish_archive(plan, _Exited(0))
    assert os.listdir(tmp_path) == ["k.jsa"]


def test_sweep_keeps_one_archive_and_live_recorders(tmp_path):
    files = {
        "cur.jsa": None,                      # the current key's archive
        "old.jsa": None,                      # a stale key
        "cur.jsa.part": None,                 # orphaned: its claim is dead
        "cur.claim": str(_dead_pid()),
        "live.jsa.part": None,                # another key being recorded
        "live.claim": str(os.getpid()),
    }
    for name, text in files.items():
        (tmp_path / name).write_text(text or "x")
    (tmp_path / "conf").mkdir()
    session._sweep(str(tmp_path), "cur")
    assert sorted(os.listdir(tmp_path)) == ["conf", "cur.jsa", "live.claim", "live.jsa.part"]


def test_fresh_jvm_maps_the_published_archive(tmp_path):
    """A first session records the archive and publishes it at exit; the
    driver JVM of a second session loads SparkContext from it."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from highspeedrailwaybigdatasystem_spark import session\n"
        f"session.cache_dir = lambda name: {str(tmp_path)!r}\n"
        "spark = session.build_session('startup-test')\n"
        "spark.range(3).collect()\n"
        "print('STATE', session.class_archive_state())\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env.pop("SPARK_CONF_DIR", None)

    def run(env) -> str:
        out = subprocess.run(
            [sys.executable, "-c", script], env=env, capture_output=True,
            text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout.split("STATE ")[-1].split()[0]

    try:
        assert run(env) == "recording"
        archives = glob.glob(str(tmp_path / "*.jsa"))
        assert len(archives) == 1 and not glob.glob(str(tmp_path / "*.part"))
        log = tmp_path / "load-%p.log"
        env["JAVA_TOOL_OPTIONS"] = " ".join(
            filter(None, [env.get("JAVA_TOOL_OPTIONS"), f"-Xlog:class+load:file={log}"])
        )
        assert run(env) == "mapped"
        loads = "".join(open(f).read() for f in glob.glob(str(tmp_path / "load-*.log")))
        assert (
            "org.apache.spark.SparkContext source: shared objects file (top)" in loads
        ), "SparkContext was not loaded from the archive"
    finally:
        for path in glob.glob(str(tmp_path / "*.jsa")):
            os.remove(path)
