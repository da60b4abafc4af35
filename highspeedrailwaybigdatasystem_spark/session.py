"""SparkSession construction with the scale-aware defaults from SURVEY.md §4.3.

Local testing runs a single JVM (``local[N]``); the configs below are the
ones that also matter on a real cluster: AQE (runtime re-planning, skew-join
splitting, shuffle coalescing), Arrow at the Python boundary, and a shuffle
partition count sized to the parallelism rather than the 200 default.

Start-up
--------
A new session pays, before its first answer, for the registry import,
``build_session`` and a first job. Almost all of it is the driver JVM
loading 10.5k classes from Spark's 300-odd jars. Medians of two sets of
10 ``perfbench/run.py`` runs on ``surface_sf0.01`` (4-core host):

- registry import: 0.7 s;
- ``build_session``: 5.9-6.3 s;
- first job (``scan_full``: first ``spark.read``, first temp view, first
  collect): 4.8-5.2 s.

``build_session`` therefore starts the driver JVM from a JDK 17 dynamic
AppCDS archive (application class-data sharing: the JVM maps the classes'
parsed data instead of reading them from the jars). Mapped, the same
medians read 2.9-3.2 s for ``build_session`` and 2.6-2.9 s for the first
job, and ``setup_s`` falls from 11.3-12.1 s to 6.1-6.9 s.

- The archive is ``<checkout>/_scratch/cds/<key>.jsa``, 160-180 MB.
  Its key covers what CDS validates: the Java executable, each jar's
  name, size and mtime, the conf dir and the driver JVM options. A key
  that changes, or an orphaned part file, is deleted at the next start.
- The first session of a key records it (``-XX:ArchiveClassesAtExit``).
  That session is slower once (``setup_s`` 16-17 s against 11-12 s), and
  at its exit Python waits while the JVM writes the archive, about 10 s.
  At most one process records; the others start without the archive.
- The archive is published (renamed from its part file) only after the
  recording JVM exited 0 and wrote the archive's header. No check is
  turned off: the classes were verified when they were recorded, and at
  map time the JVM re-checks their verification constraints and each
  jar's size and mtime.
- CDS refuses a non-empty directory on the classpath, where Spark puts its
  conf dir. When that dir holds only ``*.template`` files, ``SPARK_CONF_DIR``
  points at an empty directory for the launch and is restored after it;
  when it holds a real file, the session starts without the archive.
- ``rm -rf _scratch/cds`` resets the archive; the next session records it.
  ``class_archive_state()`` tells how this process's JVM started.

Compiled code
-------------
Whole-stage codegen compiles each generated class with Janino, and Spark
keeps the compiled classes in a cache keyed by their source
(``spark.sql.codegen.cache.maxEntries``, 100 by default). The nine
``surface_sf0.01`` ops need 107 entries and the nine ``headline_sf0.1``
ops 119, so at 100 they evicted one another: every steady
``surface_sf0.01`` pass recompiled 30-52 classes, each a new class whose
methods start cold in the interpreter. Three calls of each of the 492
registered ops at sf0.01 compile about 6k classes, 5.5k of them on the
first calls. ``build_session`` sizes the cache to
``CODEGEN_CACHE_ENTRIES`` (8192), so a session compiles each class once.
After that sweep the driver's metaspace held 133 MB against 108 MB with
the default cache (the JVM's ``Metaspace`` pool; classes mapped from the
class-data archive are not in it), about 25 MB of an 8 GB driver.
``codegen_compiles(spark)`` counts the compiles so far.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import warnings
from dataclasses import dataclass

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: First word of a JDK dynamic CDS archive.
_DYNAMIC_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)
#: Variables that change the driver's classpath or options beyond what the
#: archive's key covers.
_LAUNCH_VARS = (
    "SPARK_DIST_CLASSPATH", "SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
    "PYSPARK_SUBMIT_ARGS",
)
_archive_state = "off"
#: Size of Spark's generated-class cache (Spark's default is 100).
CODEGEN_CACHE_ENTRIES = 8192


def check_pyspark_version(python_version: str, jvm_version: str) -> None:
    """Workers import the driver's pyspark (see ``pydaemon``), so it must be
    the JVM's release: a split would run Python tasks against another
    protocol than the one the JVM speaks."""
    if python_version != jvm_version:
        raise RuntimeError(
            f"pyspark {python_version} is installed but the JVM runs Spark "
            f"{jvm_version}; Python workers import the installed pyspark, so "
            "the two must match"
        )


def build_session(
    app_name: str = "hsr-bigdata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # ~2× cores keeps every core busy through stragglers without tiny-task
    # overhead at test scale; AQE coalesces further at runtime. On a real
    # cluster this would be sized to data volume instead (see README).
    # Streaming queries are the exception AQE cannot reach: their stateful
    # partition count is fixed at checkpoint creation, so
    # streams.run_available_now sizes it per query to
    # clamp(ceil(staged bytes / advisoryPartitionSizeInBytes), 1, this value).
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    builder = SparkSession.builder
    # Scale-adaptive input-split knob (r17, r16 verdict task #2): at the
    # test SFs every parquet table is 1–9 × 128 MB splits, so SCAN
    # parallelism — not core count — bounds most stages, which is exactly
    # why the driver's 8-vs-32-core ratios read ≈1 at sf0.1. Amplified-SF
    # scaling demonstrations set this to split the scans finer (e.g. 16m);
    # the default (unset → Spark's 128 MB) keeps every driver bench
    # comparable with prior rounds.
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if mpb:
        builder = builder.config("spark.sql.files.maxPartitionBytes", mpb)
    driver_memory = os.environ.get("SPARK_DRIVER_MEM", "8g")
    builder = (
        builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE right-size CACHED plan output too (off by default for
        # partitioning stability): a cached stage ending in a shuffle
        # otherwise pins spark.sql.shuffle.partitions forever — at test
        # scale every warm read of such a cache scheduled 32 near-empty
        # tasks per downstream stage (q_minhash 0.62 s → 0.98 s after the
        # round-11 collapse join entered the cached shingle build), and at
        # 100 TB the same knob lets the coalescer target the advisory
        # partition size instead of a fixed count (round 11).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Streaming checkpoints through the FileSystem API. The default
        # FileContext manager stats every rename source and target with
        # getFileLinkStatus, which on local disk without libhadoop forks a
        # readlink process each time (64 forks per stream_tumbling run at
        # sf0.01). Both managers rename by a non-atomic exists check plus
        # RawLocalFileSystem.rename on local disk.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Hold every generated class the op surface compiles, so each is
        # compiled once per session (module docstring, "Compiled code").
        # Static: it takes effect when this call starts the JVM, and a
        # session on an existing gateway keeps its JVM's size.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # Python workers fork from a daemon that first drops Spark's zip
        # and jar archives from sys.path: each task's
        # importlib.invalidate_caches() re-read their directories, 0.23-0.33
        # s per task. The executor PYTHONPATH carries the repo root so the
        # worker finds that module when the package is not installed (pytest
        # puts the root on the driver's sys.path only).
        .config(
            "spark.python.daemon.module",
            "highspeedrailwaybigdatasystem_spark.pydaemon",
        )
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
    )
    jvm_options = f"-Xmx{driver_memory} {os.environ.get('SPARK_SUBMIT_OPTS', '')}"
    spark = _get_or_create(builder, jvm_options)
    check_pyspark_version(pyspark.__version__, spark.version)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in ``spark``'s JVM so far, cache misses
    only (Spark's ``CodegenMetrics``); the difference across a call counts
    that call's compiles, driver and local tasks alike."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def cache_dir(name: str) -> str:
    """``<checkout>/_scratch/<name>``, created: a cache that outlives the
    sessions of one checkout. It is never under ``SPARK_GRAFT_SCRATCH`` or
    ``TMPDIR``, which perfbench points at a directory of each run."""
    path = os.path.join(_ROOT, "_scratch", name)
    os.makedirs(path, exist_ok=True)
    return path


def class_archive_state() -> str:
    """How this process's driver JVM started: ``mapped`` (from the class-data
    archive), ``recording`` (it writes the archive at exit) or ``off``."""
    return _archive_state


@dataclass(frozen=True)
class ClassArchive:
    """The class-data archive of one driver launch."""

    state: str  # "mapped" or "recording"
    archive: str  # <cache dir>/<key>.jsa
    conf_dir: str  # SPARK_CONF_DIR for the launch: an empty directory

    @property
    def part(self) -> str:
        return self.archive + ".part"

    @property
    def claim(self) -> str:
        return self.archive[: -len(".jsa")] + ".claim"

    @property
    def java_option(self) -> str:
        if self.state == "mapped":
            option = f'-XX:SharedArchiveFile="{self.archive}"'
        else:
            option = f'-XX:ArchiveClassesAtExit="{self.part}"'
        # CDS logs each class it cannot archive (hundreds of lines) to
        # stdout at exit; a failure shows in the exit code, the archive's
        # header or the JVM's mappings instead.
        return option + " -Xlog:cds*=off"

    def release(self) -> None:
        """Delete the recording's part file and claim."""
        for path in (self.part, self.claim):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)


def archive_key(java: str, jars: list[str], conf_dir: str, jvm_options: str) -> str:
    """A digest of what CDS validates when it maps an archive: the Java
    executable, each classpath jar's name, size and mtime, the conf dir on
    the classpath and the driver JVM's options."""
    h = hashlib.sha256()
    for path in [java, *jars]:
        st = os.stat(path)
        h.update(f"{os.path.realpath(path)} {st.st_size} {st.st_mtime_ns}\n".encode())
    h.update(f"{conf_dir}\n{jvm_options}\n".encode())
    return h.hexdigest()[:16]


def plan_class_archive(cds_dir: str, jvm_options: str) -> ClassArchive | None:
    """The archive the next driver launch maps or records, or None to launch
    without one: the effective conf dir holds a real file, the classpath has
    entries the key does not cover, or another process is recording."""
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    # CDS refuses a non-empty directory on the classpath, and Spark puts its
    # conf dir there. Templates are never read, so an empty directory in its
    # place changes nothing; a real file would be read, so it keeps its dir.
    if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
        return None
    if any(os.environ.get(v) for v in _LAUNCH_VARS):
        return None
    empty = os.path.join(cds_dir, "conf")
    os.makedirs(empty, exist_ok=True)
    if os.listdir(empty):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return None
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    key = archive_key(java, jars, empty, jvm_options)
    _sweep(cds_dir, key)
    archive = os.path.join(cds_dir, key + ".jsa")
    if os.path.isfile(archive):
        return ClassArchive("mapped", archive, empty)
    plan = ClassArchive("recording", archive, empty)
    try:
        fd = os.open(plan.claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return None
    with os.fdopen(fd, "w") as fh:
        fh.write(str(os.getpid()))
    return plan


def _claim_alive(claim: str) -> bool:
    try:
        with open(claim) as fh:
            pid = fh.read()
        age = time.time() - os.path.getmtime(claim)
    except OSError:
        return False
    if not pid:  # its recorder is writing its pid
        return age < 60
    try:
        os.kill(int(pid), 0)
    except (ProcessLookupError, ValueError):
        return False
    except PermissionError:
        pass
    return True


def _sweep(cds_dir: str, key: str) -> None:
    """Delete the files of other keys and any orphaned part or claim file,
    so that the directory holds one archive. A live recorder's files stay."""
    for name in os.listdir(cds_dir):
        if name in ("conf", key + ".jsa"):
            continue
        if _claim_alive(os.path.join(cds_dir, name.split(".")[0] + ".claim")):
            continue
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(cds_dir, name))


def publish_archive(plan: ClassArchive, proc) -> bool:
    """End the recording JVM ``proc`` and publish its archive if it exited 0
    and wrote the archive to the end. The part file and the claim go
    either way, so a partial archive is never mapped."""
    try:
        proc.stdin.close()  # the JVM exits at the end of its stdin
        try:
            code = proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            proc.kill()
            code = proc.wait()
        if code == 0 and _complete(plan.part):
            os.replace(plan.part, plan.archive)
            return True
        warnings.warn(f"class-data archive not recorded: the JVM exited {code}")
        return False
    finally:
        plan.release()


def _complete(part: str) -> bool:
    # The JVM writes the archive's header, which starts with this word,
    # after all of its regions.
    try:
        with open(part, "rb") as fh:
            return fh.read(4) == _DYNAMIC_ARCHIVE_MAGIC
    except OSError:
        return False


def _maps(pid: int, path: str) -> bool:
    try:
        with open(f"/proc/{pid}/maps") as fh:
            return path in fh.read()
    except OSError:  # no procfs: the JVM's own checks decide
        return True


def _get_or_create(builder: SparkSession.Builder, jvm_options: str) -> SparkSession:
    """``builder.getOrCreate()``; a new driver JVM starts from the class-data
    archive, or records it when there is none yet. Any failure falls back to
    a launch without the archive, with one warning."""
    global _archive_state
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()  # no JVM starts
    _archive_state = "off"
    try:
        plan = plan_class_archive(cache_dir("cds"), jvm_options)
    except OSError as e:
        warnings.warn(f"class-data archive off: {e}")
        plan = None
    if plan is None:
        return builder.getOrCreate()
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        try:
            spark = builder.config("spark.driver.extraJavaOptions", plan.java_option).getOrCreate()
        finally:
            if conf_dir is None:
                os.environ.pop("SPARK_CONF_DIR")
            else:
                os.environ["SPARK_CONF_DIR"] = conf_dir
    except Exception as e:  # noqa: BLE001 - any launch failure falls back
        warnings.warn(f"class-data archive off: the driver did not start with it: {e}")
        _discard(plan)
        return builder.config("spark.driver.extraJavaOptions", "").getOrCreate()
    proc = SparkContext._gateway.proc
    if plan.state == "recording":
        owner = os.getpid()
        atexit.register(lambda: os.getpid() == owner and publish_archive(plan, proc))
    elif not _maps(proc.pid, plan.archive):
        warnings.warn(
            f"class-data archive {plan.archive} was not mapped; "
            "rm -rf _scratch/cds records it again"
        )
        return spark
    _archive_state = plan.state
    return spark


def _discard(plan: ClassArchive) -> None:
    """Release a failed launch: its JVM, if one started, and its claim."""
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.kill()
        gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    if plan.state == "recording":
        plan.release()
