"""``get_spark()`` launch behaviour, each case in its own Python process
(a JVM is launched once per process): launch-time settings win over the
library's defaults, and the class-data archive lifecycle — record on a
miss, build at exit, map on the next launch, and a normal session from
a bad archive or an ineligible conf dir.  Every process gets its own
``XDG_CACHE_HOME``, so no test reads or replaces the machine's archive."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home

REPO = Path(__file__).resolve().parent.parent
#: every session of these tests: small heap, two cores
SUBMIT = "--master local[2] --driver-memory 1g"

#: starts a session, runs one job and reports what the JVM was given
CHILD = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from cassandra_join_library_spark import get_spark
spark = get_spark(app_name="session-test")
jvm = spark.sparkContext._jvm
conf = spark.sparkContext.getConf()
print(json.dumps({
    "rows": spark.range(10).count(),
    "args": list(jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments()),
    "caller_flag": jvm.java.lang.System.getProperty("caller.flag"),
    "max_heap": jvm.java.lang.Runtime.getRuntime().maxMemory(),
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "confs": {k: spark.conf.get(k) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")},
    "driver_memory": conf.get("spark.driver.memory"),
}))
"""

#: the archive path a launch would use, without launching a JVM
ARCHIVE_PATH = """
import sys
sys.path.insert(0, sys.argv[1])
from cassandra_join_library_spark.session import _archive_path, launch_settings
launch = launch_settings()
print(_archive_path(launch, launch["spark.driver.memory"]))
"""


def _env(xdg: Path, submit: str = SUBMIT, **extra) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR",
                        "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update(XDG_CACHE_HOME=str(xdg), PYSPARK_SUBMIT_ARGS=f"{submit} pyspark-shell",
               **extra)
    return env


def _run(script: str, env: dict) -> str:
    p = subprocess.run([sys.executable, "-c", script, str(REPO)], env=env,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return p.stdout.strip().splitlines()[-1]


def _session(env: dict) -> dict:
    out = json.loads(_run(CHILD, env))
    assert out["rows"] == 10
    return out


def _cds(xdg: Path) -> Path:
    return xdg / "cassandra-join-library-spark" / "cds"


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """One recording session (a miss) in a fresh cache, whose exit
    builds the archive; yields (cache root, session report, archive)."""
    root = tmp_path_factory.mktemp("cds")
    xdg = root / "xdg cache"  # a space: the options must stay quoted
    out = _session(_env(xdg))
    yield xdg, out, sorted(_cds(xdg).glob("*.jsa"))
    shutil.rmtree(root, ignore_errors=True)


def test_a_miss_records_a_class_list_and_builds_the_archive(built):
    xdg, out, archives = built
    recorded = [a for a in out["args"] if a.startswith("-XX:DumpLoadedClassList=")]
    assert len(recorded) == 1 and recorded[0].startswith(
        f"-XX:DumpLoadedClassList={_cds(xdg)}/")
    assert not any(a.startswith("-XX:SharedArchiveFile=") for a in out["args"])
    assert out["jvm_conf_dir"] == str(_cds(xdg) / "conf")
    assert out["conf_dir"] is None
    assert len(archives) == 1 and archives[0].stat().st_size > 10 * 2**20
    # the class list and the dump's temporary file are gone
    assert sorted(p.name for p in _cds(xdg).iterdir()) == sorted(["conf", archives[0].name])


def test_the_next_session_maps_the_archive_and_keeps_caller_flags(built):
    xdg, _, archives = built
    before = archives[0].stat().st_mtime_ns
    # -Xshare:on turns an archive the JVM cannot map into a failed launch
    out = _session(_env(xdg, SUBMIT + " --driver-java-options"
                        " '-Xshare:on -Dcaller.flag=kept'"))
    args = out["args"]
    assert f"-XX:SharedArchiveFile={archives[0]}" in args
    assert args.index(f"-XX:SharedArchiveFile={archives[0]}") < args.index("-Xshare:on")
    assert out["caller_flag"] == "kept"
    assert not any(a.startswith("-XX:DumpLoadedClassList=") for a in args)
    assert out["conf_dir"] is None
    assert sorted(_cds(xdg).glob("*.jsa")) == archives
    assert archives[0].stat().st_mtime_ns == before


@pytest.mark.parametrize("damage", ["truncated", "corrupt", "other_key"])
def test_a_bad_archive_starts_a_normal_session(built, tmp_path, damage):
    _, _, archives = built
    xdg = tmp_path / "xdg"
    env = _env(xdg)
    target = Path(_run(ARCHIVE_PATH, env))
    assert target.parent == _cds(xdg) and not target.exists()
    if damage == "truncated":
        with open(archives[0], "rb") as src:
            target.write_bytes(src.read(archives[0].stat().st_size // 4))
    elif damage == "corrupt":
        target.write_bytes(os.urandom(1 << 16))
    else:
        # built for another conf dir: the JVM's class path check fails
        os.link(archives[0], target)
    try:
        out = _session(env)
        assert f"-XX:SharedArchiveFile={target}" in out["args"]
        # the bad file is used as found: nothing is recorded or rebuilt
        assert [p.name for p in _cds(xdg).glob("*.*")] == [target.name]
    finally:
        target.unlink()  # a hard link would keep the archive's blocks


def test_a_conf_dir_with_a_real_file_gets_no_archive(tmp_path):
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    spark_home = Path(_find_spark_home()).resolve()
    for d in ("bin", "jars"):
        (home / d).symlink_to(spark_home / d)
    (home / "conf" / "spark-defaults.conf").write_text(
        "spark.sql.shuffle.partitions   5\n")
    xdg = tmp_path / "xdg"
    out = _session(_env(xdg, SPARK_HOME=str(home)))
    assert not any(a.startswith(("-XX:SharedArchiveFile=", "-XX:DumpLoadedClassList="))
                   for a in out["args"])
    assert out["conf_dir"] is None
    assert out["jvm_conf_dir"] == str(home / "conf")
    # the conf dir's own setting beats get_spark()'s default of 32
    assert out["confs"]["spark.sql.shuffle.partitions"] == "5"
    assert not list(_cds(xdg).glob("*.*"))


def test_launch_settings_win_over_get_spark_defaults(tmp_path):
    (tmp_path / "conf").mkdir()
    # SPARK_CONF_DIR set: no archive, so this session records nothing
    out = _session(_env(
        tmp_path / "xdg",
        "--master local[2] --conf spark.sql.shuffle.partitions=7"
        " --conf spark.sql.autoBroadcastJoinThreshold=-1"
        " --conf spark.driver.memory=2g",
        SPARK_CONF_DIR=str(tmp_path / "conf")))
    assert out["confs"] == {"spark.sql.shuffle.partitions": "7",
                            "spark.sql.autoBroadcastJoinThreshold": "-1"}
    assert out["driver_memory"] == "2g"
    assert out["max_heap"] <= 2 * 2**30
    assert not any(a.startswith(("-XX:SharedArchiveFile=", "-XX:DumpLoadedClassList="))
                   for a in out["args"])


def test_launch_settings_parses_submit_args_and_properties_file(tmp_path, monkeypatch):
    from cassandra_join_library_spark.session import launch_settings

    props = tmp_path / "my.conf"
    props.write_text("# comment\nspark.a  1\nspark.b=2\nspark.c: 3\n"
                     "spark.driver.extraJavaOptions -Dx=y -Dz=w\n")
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", (
        f"--properties-file {props} --conf spark.b=20 -c spark.d=4 --conf=spark.e=a=b "
        "--master=local[3] --verbose --driver-memory 3g --jars x.jar pyspark-shell"))
    assert launch_settings() == {
        "spark.a": "1", "spark.b": "20", "spark.c": "3", "spark.d": "4",
        "spark.e": "a=b", "spark.driver.extraJavaOptions": "-Dx=y -Dz=w",
        "spark.master": "local[3]", "spark.driver.memory": "3g"}
