"""SparkSession construction tuned for this engine.

The reference (cassandra_joinlib) manages its own memory budget
(0.7 x RAM, ``join_executor.py:64-66``) and hand-rolled grace-hash
spilling (``utils.py:232-286``).  On Spark all of that is native: the
unified memory manager spills, AQE re-plans joins at runtime, and the
shuffle *is* a grace hash join.  This module centralises the configs we
care about so tests / bench / driver entry all run the same way.

Scale notes (100 TB design point):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces the reference's static ``(avg_l+avg_r)*|L|*|R|`` estimate
  (``hash_join.py:850-866``).
- ``spark.sql.shuffle.partitions`` is a local-mode default only; on a
  real cluster AQE's coalescing makes the initial number mostly
  irrelevant as long as it is high enough.
- Arrow enabled: every Pandas-UDF hop (similarity / multimodal ops)
  moves data in Arrow batches, not pickled rows.

Launch-time settings win.  ``get_spark()``'s confs are defaults: a key
the caller already set at launch (``--master``, ``--conf``,
``--driver-memory`` in ``PYSPARK_SUBMIT_ARGS``, or the properties file)
is left as the caller set it.

Cold start.  A cold driver JVM spends most of ``get_spark()`` and of the
first queries loading 15-20 k classes one by one.  Class-data sharing
(JEP 350) maps them from an archive instead:

- The first session on a machine launches its JVM with
  ``-XX:DumpLoadedClassList``.  When that Python process exits, it stops
  the JVM, builds a static archive from the list (``java -Xshare:dump``
  with the JVM's own ``java.home``, class path and module flags; ~40 s,
  ~160-190 MB, once) and renames it into place only if the dump
  succeeded.
- Every later session prepends ``-XX:SharedArchiveFile=... -Xlog:cds=off``
  through ``spark.driver.defaultJavaOptions``, which keeps the caller's
  own ``--driver-java-options``.
- The archive lives in ``$XDG_CACHE_HOME/cassandra-join-library-spark/cds``
  (``~/.cache`` when unset).  Its name hashes what the JVM checks when
  it maps one: the JDK build, the jar list, the conf dir and the heap
  size.  One archive is kept; deleting the directory rebuilds it.
- The JDK refuses a non-empty directory on the class path, and Spark
  puts its conf dir first.  So an archive is used only when
  ``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf`` holds nothing
  but ``*.template`` files; the JVM is then launched with
  ``SPARK_CONF_DIR`` pointing at an empty cache directory, which loses
  no setting.
- A truncated, corrupt or mismatched archive starts a normal session
  (the JVM's default ``-Xshare:auto``) and is deleted once the JVM
  reports it unmapped, unless the caller's ``-Xshare:off`` explains
  that; the next session records a fresh one.  A failed dump leaves a
  ``.failed`` marker, so later sessions neither record nor rebuild.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shlex
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from .sources.catalog import RUNTIME_PARITY_CONFS

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")

#: spark-submit options that set a Spark property
_SUBMIT_OPTIONS = {
    "--master": "spark.master",
    "--driver-memory": "spark.driver.memory",
    "--driver-java-options": "spark.driver.extraJavaOptions",
    "--driver-class-path": "spark.driver.extraClassPath",
}
#: environment that changes the driver's class path (Spark's launcher
#: adds these directories), which an archive would not match
_CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_DIST_CLASSPATH")
#: flags of the recording JVM that its archive dump must repeat
_DUMP_FLAGS = ("-Xmx", "--add-modules", "--add-opens", "--add-exports",
               "--add-reads", "--enable-native-access")


def get_spark(app_name: str = "cassandra-join-library-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` and ``shuffle_partitions`` apply when given; every other
    conf applies only where the launch left it unset."""
    confs = {
        "spark.master": f"local[{DEFAULT_CPUS}]",
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        **RUNTIME_PARITY_CONFS,
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.sql.warehouse.dir":
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        "spark.ui.enabled": "false",
    }
    launch = launch_settings()
    confs = {k: v for k, v in confs.items() if k not in launch}
    if master:
        confs["spark.master"] = master
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    builder = SparkSession.builder.appName(app_name).config(map=confs)

    heap = launch.get("spark.driver.memory") or confs["spark.driver.memory"]
    archive = _archive_path(launch, heap)
    if archive is None:
        return builder.getOrCreate()
    try:
        found = archive.stat()
    except FileNotFoundError:
        found = None
    recording = found is None
    if recording:
        classlist = archive.with_name(f"{archive.stem}.{os.getpid()}.classlist")
        opts = [f"-XX:DumpLoadedClassList={classlist}"]
    else:
        opts = [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off"]
    builder.config("spark.driver.defaultJavaOptions", shlex.join(opts))
    os.environ["SPARK_CONF_DIR"] = str(archive.parent / "conf")
    try:
        spark = builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if recording:
        _build_archive_at_exit(spark, classlist, archive)
    else:
        _drop_unmapped_archive(spark, archive, found)
    return spark


def launch_settings() -> "dict[str, str]":
    """The Spark properties the caller fixed at launch: the options in
    ``PYSPARK_SUBMIT_ARGS`` over its properties file (``--properties-file``,
    else ``spark-defaults.conf`` in the conf dir)."""
    args = iter(shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", "")))
    props, defaults = {}, None
    for arg in args:
        opt, eq, value = arg.partition("=") if arg.startswith("--") else (arg, "", "")
        if opt not in (*_SUBMIT_OPTIONS, "--conf", "-c", "--properties-file"):
            continue
        if not eq:
            value = next(args, "")
        if opt == "--properties-file":
            defaults = value
        elif opt in _SUBMIT_OPTIONS:
            props[_SUBMIT_OPTIONS[opt]] = value
        else:
            key, _, value = value.partition("=")
            props[key] = value
    if defaults is None:
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
        defaults = os.path.join(conf_dir, "spark-defaults.conf")
    return {**_read_properties(defaults), **props}


def _read_properties(path: str) -> "dict[str, str]":
    """``key value`` / ``key=value`` lines of a Spark properties file."""
    out = {}
    with contextlib.suppress(OSError), open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line and line[0] not in "#!":
                key, value = (re.split(r"\s*[=:\s]\s*", line, maxsplit=1) + [""])[:2]
                out[key] = value
    return out


def _archive_path(launch: "dict[str, str]", heap: str) -> "Path | None":
    """Where this launch's class-data archive lives, or None when the
    launch cannot use one: a JVM already runs, the class path would
    hold a non-empty or unknown directory, or the caller set the
    driver's default Java options."""
    if (SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
            or any(os.environ.get(v) for v in _CLASSPATH_ENV)
            or "spark.driver.extraClassPath" in launch
            or "spark.driver.defaultJavaOptions" in launch):
        return None
    spark_home = Path(_find_spark_home())
    conf = spark_home / "conf"
    java_home = (Path(os.environ["JAVA_HOME"]) if os.environ.get("JAVA_HOME")
                 else Path(os.path.realpath(shutil.which("java") or "java")).parent.parent)
    cache = (Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
             / "cassandra-join-library-spark" / "cds")
    key = hashlib.sha256(f"{cache / 'conf'}\0{heap}\n".encode())
    try:
        if conf.is_dir() and any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
        (cache / "conf").mkdir(parents=True, exist_ok=True)
        if os.listdir(cache / "conf"):
            return None
        for p in (java_home / "lib" / "modules", java_home / "lib" / "server" / "libjvm.so",
                  *sorted((spark_home / "jars").glob("*.jar"))):
            st = p.stat()
            key.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    archive = cache / f"{key.hexdigest()[:24]}.jsa"
    return None if archive.with_suffix(".failed").exists() else archive


def _drop_unmapped_archive(spark: SparkSession, archive: Path,
                           found: os.stat_result) -> None:
    """Delete an archive the JVM could not map (``java.vm.info`` lacks
    ``sharing``), so the next session records a fresh one.  A caller's
    ``-Xshare:off`` explains the miss and keeps it; so does a file
    replaced since the launch."""
    jvm = spark.sparkContext._jvm
    if "sharing" in jvm.java.lang.System.getProperty("java.vm.info"):
        return
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    if "-Xshare:off" in list(args):
        return
    with contextlib.suppress(OSError):
        st = archive.stat()
        if ((st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
                == (found.st_dev, found.st_ino, found.st_size, found.st_mtime_ns)):
            archive.unlink()


def _build_archive_at_exit(spark: SparkSession, classlist: Path, archive: Path) -> None:
    """Register the archive build for this process's exit, with the
    recording JVM's own ``java.home``, class path and module flags."""
    jvm = spark.sparkContext._jvm
    prop = jvm.java.lang.System.getProperty
    flags = [a for a in jvm.java.lang.management.ManagementFactory
             .getRuntimeMXBean().getInputArguments() if a.startswith(_DUMP_FLAGS)]
    tmp = archive.with_name(f"{archive.stem}.{os.getpid()}.tmp")
    dump = [os.path.join(prop("java.home"), "bin", "java"), "-Xshare:dump",
            f"-XX:SharedClassListFile={classlist}", f"-XX:SharedArchiveFile={tmp}",
            "-cp", prop("java.class.path"), *flags]
    atexit.register(_build_archive, SparkContext._gateway.proc, dump, classlist, tmp, archive)


def _build_archive(jvm_proc, dump: "list[str]", classlist: Path, tmp: Path,
                   archive: Path) -> None:
    """Stop the driver JVM (its class list is complete once it exits),
    dump the archive and promote it by rename only on exit code 0."""
    try:
        if jvm_proc.poll() is None:
            if SparkContext._active_spark_context is not None:
                with contextlib.suppress(Exception):
                    SparkContext._active_spark_context.stop()
            jvm_proc.stdin.close()  # the gateway JVM exits when its stdin closes
            jvm_proc.wait(timeout=60)
        try:
            ok = subprocess.run(dump, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                                stderr=subprocess.DEVNULL, timeout=900).returncode == 0
        except (OSError, subprocess.TimeoutExpired):
            ok = False
        if ok:
            os.replace(tmp, archive)
            _sweep(archive)
        else:
            archive.with_suffix(".failed").touch()
    except (OSError, subprocess.TimeoutExpired):
        pass
    finally:
        for p in (classlist, tmp):
            with contextlib.suppress(OSError):
                p.unlink()


def _sweep(archive: Path) -> None:
    """Keep one archive: delete every other archive and failure marker,
    and what dead recording processes left (``<key>.<pid>.<ext>``)."""
    for p in archive.parent.glob("*.*"):
        parts = p.name.split(".")
        if len(parts) == 2 and p != archive or len(parts) == 3 and not _alive(parts[1]):
            with contextlib.suppress(OSError):
                p.unlink()


def _alive(pid: str) -> bool:
    try:
        os.kill(int(pid), 0)
    except (ValueError, ProcessLookupError):
        return False
    except PermissionError:
        pass
    return True
