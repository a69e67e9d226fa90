"""get_spark: live-session reuse and the driver JVM's class-data archive."""

from __future__ import annotations

import csv
import glob
import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from tsatool_app_spark import session
from tsatool_app_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: above every Linux pid_max, so never a live process
DEAD_PID = 1 << 22


def test_get_spark_keeps_live_session_settings(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        again = get_spark("another-caller", shuffle_partitions=3)
        assert again.conf.get(key) == "7"
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, before)


# ---------------------------------------------------------------------------
# The archive's bookkeeping, without a JVM
# ---------------------------------------------------------------------------


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """A fresh archive cache, with get_spark's JVM not yet started."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return tmp_path / "tsatool_app_spark"


def test_archive_dump_is_tried_once_per_key(cache):
    opts, conf_dir, dump = session._driver_archive("local[2]")
    part, jsa, marker = dump
    key = os.path.basename(jsa)[: -len(".jsa")]
    assert f"-XX:ArchiveClassesAtExit={part}" in opts.split()
    assert part == str(cache / f"{key}.{os.getpid()}.part")
    assert os.listdir(conf_dir) == [] and os.path.exists(marker)
    # the dump was not published: the key is not tried again
    assert session._driver_archive("local[2]") is None
    open(jsa, "wb").close()
    opts, _, dump = session._driver_archive("local[2]")
    assert f"-XX:SharedArchiveFile={jsa}" in opts.split() and dump is None
    # cds warnings go to a file, never to the driver's stdout
    assert "-Xlog:cds*=off" in opts.split()
    assert session._driver_archive("yarn") is None
    assert session._driver_archive("spark://host:7077") is None


def test_archive_new_key_prunes_other_keys(cache):
    cache.mkdir(parents=True)
    planted = {
        "0ld.jsa": False,  # another key's archive and marker
        "0ld.attempt": False,
        f"0ld.{DEAD_PID}.part": False,  # an orphan dump
        "garbage.part": False,
        f"0ld.{os.getpid()}.part": True,  # a dump still being written
        "cds.log": True,
    }
    for name in planted:
        (cache / name).write_bytes(b"x")
    _, _, (part, jsa, marker) = session._driver_archive("local[1]")
    left = set(os.listdir(cache))
    assert left == {n for n, keep in planted.items() if keep} | {"conf", os.path.basename(marker)}
    # a known key keeps the others' archives and drops only orphan dumps
    os.replace(marker, jsa)
    (cache / "0ld.jsa").write_bytes(b"x")
    (cache / f"0ld.{DEAD_PID}.part").write_bytes(b"x")
    session._driver_archive("local[1]")
    assert set(os.listdir(cache)) == left - {os.path.basename(marker)} | {
        os.path.basename(jsa), "0ld.jsa"}


@pytest.mark.parametrize("code, published", [(0, True), (1, False)])
def test_archive_published_only_after_a_clean_exit(tmp_path, monkeypatch, code, published):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)  # not this one's
    part, jsa, marker = (str(tmp_path / n) for n in ("k.1.part", "k.jsa", "k.attempt"))
    open(marker, "w").close()
    # stands in for the gateway JVM: it writes its archive when its stdin closes
    child = (f"import sys; sys.stdin.read(); open({part!r}, 'w').write('archive');"
             f" sys.exit({code})")
    proc = subprocess.Popen([sys.executable, "-c", child], stdin=subprocess.PIPE)
    session._publish_at_exit(proc, part, jsa, marker)
    assert not os.path.exists(part)
    assert os.path.exists(jsa) is published
    assert os.path.exists(marker) is not published


# ---------------------------------------------------------------------------
# The archive's lifecycle, through real driver JVMs
# ---------------------------------------------------------------------------

#: one CLI run in its own process; facts about its driver JVM go to a file
CLI_RUN = """
import json, sys
from tsatool_app_spark import cli
from tsatool_app_spark.session import get_spark
facts, java_opts, *argv = sys.argv[1:]
spark = get_spark("archive-test", extra_conf={"spark.driver.extraJavaOptions": java_opts})
pid = spark.sparkContext._gateway.proc.pid
rc = cli.main(argv)
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({l.split()[-1] for l in f if l.rstrip().endswith((".jsa", ".part"))})
with open(f"/proc/{pid}/cmdline") as f:
    cmdline = f.read().split("\\0")
json.dump({"rc": rc, "sum": spark.range(1000).selectExpr("sum(id)").first()[0],
           "maps": maps, "cmdline": cmdline}, open(facts, "w"))
"""


#: the caller's own driver options; C1 only and one GC thread make the test's
#: concurrent JVMs start faster
JAVA_OPTS = "-Dtsatool.test=1 -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"


def test_archive_lifecycle(tmp_path, spark):
    T0 = datetime(2018, 2, 10)
    rows = []
    for i, v in enumerate([5.0, 4.0, 2.0, 1.0, 2.5, 4.0, 5.0, 5.0]):
        rows.append((T0 + timedelta(minutes=5 * i), 1122, 3, v))
        rows.append((T0 + timedelta(minutes=5 * i), 1122, 27, 8.0))
    obs = str(tmp_path / "obs")
    spark.createDataFrame(rows, "tfrom timestamp, statid int, seid int, seval float").write.parquet(obs)
    sensors = tmp_path / "sensors.csv"
    sensors.write_text('3|18|"TIE_1"\n27|19|"KELI_1"\n')
    sheets = tmp_path / "sheets"
    sheets.mkdir()
    with open(sheets / "s1.csv", "w", newline="") as f:
        csv.writer(f).writerows([
            ["start", "end"], ["1.2.2018", "31.3.2018"], ["site", "master_alias", "condition"],
            ["Sipoo itään", "A1", "s1122#tie_1 < 3 AND s1122#keli_1 = 8"],
            ["Sipoo itään", "D1", "A1"],
        ])
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS")}
    env.update(PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
               SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")

    def cache(name):
        path = tmp_path / "caches" / name / "tsatool_app_spark"
        path.mkdir(parents=True, exist_ok=True)
        return path

    def run(name, cache_name, conf_dir=None):
        """A CLI run in its own directory; returns its stdout and facts."""
        wd = tmp_path / name
        wd.mkdir()
        run_env = {**env, "XDG_CACHE_HOME": str(cache(cache_name).parent)}
        if conf_dir:
            run_env["SPARK_CONF_DIR"] = str(conf_dir)
        p = subprocess.run(
            [sys.executable, "-c", CLI_RUN, str(wd / "facts.json"), JAVA_OPTS,
             "-i", str(sheets), "-n", "t", "-r", "results", "--obs-parquet", obs,
             "--sensors-csv", str(sensors)],
            cwd=wd, env=run_env, capture_output=True, timeout=600)
        assert p.returncode == 0, p.stderr.decode()[-3000:]
        assert b"Traceback" not in p.stderr, p.stderr.decode()[-3000:]
        facts = json.loads((wd / "facts.json").read_text())
        assert facts["rc"] == 0 and facts["sum"] == 499500
        assert set(JAVA_OPTS.split()) <= set(facts["cmdline"])  # the caller's options are kept
        facts["archive"] = [a for a in facts["cmdline"] if a.startswith("-XX:") and "Archive" in a]
        facts["summary"] = (wd / "results" / "t_s1.csv").read_text()
        return p.stdout, facts

    key = session._archive_key(_find_spark_home())
    # a garbage and a foreign archive under this key
    with open(cache("garbage") / f"{key}.jsa", "wb") as f:
        f.write(os.urandom(1 << 20))
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    (launcher,) = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher_*.jar"))
    subprocess.run([java, f"-XX:ArchiveClassesAtExit={cache('foreign')}/{key}.jsa", "-cp", launcher,
                    "org.apache.spark.launcher.Main"], capture_output=True, timeout=60)
    assert os.path.getsize(cache("foreign") / f"{key}.jsa") > 0
    # a conf directory with a real file in it gets no archive
    site_conf = tmp_path / "site-conf"
    site_conf.mkdir()
    (site_conf / "spark-defaults.conf").write_text("# site settings\n")

    # the first run in a fresh cache dumps, next to the others
    with ThreadPoolExecutor(4) as pool:
        runs = dict(zip(("dump", "garbage", "foreign", "none"), pool.map(lambda a: run(*a), [
            ("dump", "main"), ("garbage", "garbage"), ("foreign", "foreign"),
            ("none", "none", site_conf)])))
    # its archive is published once its JVM has exited
    jsa = str(cache("main") / f"{key}.jsa")
    (flag,) = runs["dump"][1]["archive"]
    assert flag.startswith(f"-XX:ArchiveClassesAtExit={cache('main')}/{key}.") and flag.endswith(".part")
    assert set(os.listdir(cache("main"))) == {"cds.log", "conf", f"{key}.jsa"}
    for name in ("garbage", "foreign"):
        assert runs[name][1]["archive"] == [f"-XX:SharedArchiveFile={cache(name)}/{key}.jsa"]
    assert runs["none"][1]["archive"] == [] and os.listdir(cache("none")) == []

    # the next run maps it; a truncated dump left behind is never mapped, and is removed
    truncated = cache("main") / f"{key}.{DEAD_PID}.part"
    with open(jsa, "rb") as f:
        truncated.write_bytes(f.read(os.path.getsize(jsa) // 2))
    runs["reuse"] = run("reuse", "main")
    assert runs["reuse"][1]["archive"] == [f"-XX:SharedArchiveFile={jsa}"]
    assert jsa in runs["reuse"][1]["maps"]
    assert not [m for m in runs["reuse"][1]["maps"] if m.endswith(".part")]
    assert not truncated.exists()

    # the same stdout and summary with no archive, while dumping, with one,
    # and with a garbage or a foreign one
    assert json.loads(runs["none"][0])["results_dir"] == "results"
    for out, facts in runs.values():
        assert out == runs["none"][0] and facts["summary"] == runs["none"][1]["summary"]
