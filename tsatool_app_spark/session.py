"""SparkSession factory with scale-aware defaults.

The reference pins all execution to one PostgreSQL connection per sheet
(tsa/analysis_collection.py:211-220); here every query is a lazy Spark DAG and
parallelism comes from partitioning. Defaults below are tuned so the same code
runs on local[N] for tests and on a large cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace any hand-tuning per scale factor.
- Arrow on: all pandas interchange (reporting edge, pandas UDFs) is batched.
- Session timezone UTC: parquet timestamps compare bit-identically with the
  DuckDB oracle; the reference's Europe/Helsinki semantics are applied
  explicitly at ingest/bucketing sites (see sources/csv_ingest.py), never
  implicitly via session state.
- Generated-class cache sized to the pipelines: a repeated plan compiles
  each of its generated classes once per session, not on every repeat
  (measured class counts at the config).
- DataFrame debugging off: recording the Python call site of every Column
  and DataFrame call costs py4j round trips per call; SQL errors lose that
  call site from their DataFrame context.
- Class-data archive for the local driver JVM (JDK application class-data
  sharing): the JVM maps the classes an earlier run loaded instead of
  loading and verifying them again, which halves the set-up of a one-shot
  CLI run (4 cores: 8.7 -> 4.5 s).  The archive lives in ``$XDG_CACHE_HOME/tsatool_app_spark/``
  (default ``~/.cache``), named by a hash of the JDK build
  (``$JAVA_HOME/release``) and the Spark jar set (path, names, sizes and
  mtimes), so a JDK or Spark upgrade trains a new one and deletes the old.
  The first run of a key dumps the archive when its JVM exits (about 14 s
  more, once, for 170 MB); later runs map it.  JDK 17 refuses to dump while a
  non-empty directory is on the class path, and Spark puts its conf
  directory there, so when that directory holds nothing but ``*.template``
  files the JVM gets an empty one from the cache instead (nothing is read
  from templates).  A conf directory with a real file, or a non-local
  master, gets no archive.  A dump is published only by a rename after its
  JVM exited cleanly, since a truncated archive crashes every JVM that
  maps it; a dump that did not finish is not retried (its ``.attempt``
  marker stays).  A mismatched or damaged archive is ignored by the JVM,
  which logs why to ``cds.log`` there instead of stdout.  Deleting the
  archive, or the whole directory, is safe: the next run dumps again.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: seconds an exiting process waits for its driver JVM to write the archive
#: (a dump took 13-14 s on 4 cores); a JVM still busy then is killed and its
#: archive dropped
DUMP_WAIT_S = 300


def _default_driver_mem() -> str:
    """~25% of system memory, clamped to [2g, 32g]. Reads /proc/meminfo
    (Linux); falls back to a conservative 8g where it is absent."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{min(32, max(2, total_gb // 4))}g"
    except OSError:
        pass
    return "8g"


def _archive_key(spark_home: str) -> str:
    """Hash of the JDK build and the Spark jar set; raises OSError when
    either cannot be read."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            raise OSError("no java on PATH")
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    h.update(jars.encode())
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        st = e.stat()
        h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _pid_alive(pid: str) -> bool:
    try:
        os.kill(int(pid), 0)
    except PermissionError:
        return True
    except (ValueError, OverflowError, ProcessLookupError):
        return False
    return True


def _prune(cache: str, key: str, new_key: bool) -> None:
    """Remove the ``.part`` files whose dumping process is gone and, when
    ``key`` is new, every other key's archive and marker."""
    for name in os.listdir(cache):
        stem, ext = os.path.splitext(name)
        if (ext == ".part" and not _pid_alive(os.path.splitext(stem)[1][1:])) or (
            new_key and ext in (".jsa", ".attempt") and stem != key
        ):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(cache, name))


def _driver_archive(master: str) -> tuple[str, str, tuple[str, str, str] | None] | None:
    """The class-data archive for a driver JVM about to start: its JVM
    options, the conf directory to start it with, and, when this run dumps
    the archive, its (``.part``, archive, marker) paths.  None when the
    driver is not a local JVM started here, or the archive cannot be used."""
    if not master.startswith("local") or SparkContext._gateway is not None:
        return None
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # the JVM is already running
        return None
    try:
        spark_home = _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
        cache_root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
        cache = os.path.join(cache_root, "tsatool_app_spark")
        if re.search(r"[\s:,=\"']", cache):  # would not survive the option syntax
            return None
        key = _archive_key(spark_home)
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        jsa, marker = os.path.join(cache, key + ".jsa"), os.path.join(cache, key + ".attempt")
        if os.path.exists(jsa):
            _prune(cache, key, new_key=False)
            opt, dump = f"-XX:SharedArchiveFile={jsa}", None
        else:
            # the marker is taken atomically: one dump per key, ever, unless
            # it is published (a failed one stays failed, a concurrent run
            # goes without)
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            _prune(cache, key, new_key=True)
            part = os.path.join(cache, f"{key}.{os.getpid()}.part")
            opt, dump = f"-XX:ArchiveClassesAtExit={part}", (part, jsa, marker)
    except OSError:  # includes a marker that is already there
        return None
    log = os.path.join(cache, "cds.log")
    return f"{opt} -Xlog:cds*=off -Xlog:cds*=warning:file={log}::filecount=0", empty_conf, dump


def _publish_at_exit(proc: subprocess.Popen, part: str, jsa: str, marker: str) -> None:
    """Wait for the dumping driver JVM to exit, and publish its archive only
    if it exited cleanly."""
    try:
        if proc.poll() is None:
            sc = SparkContext._active_spark_context
            if sc is not None:  # its accumulator server would see the JVM go
                sc.stop()
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode == 0:
            os.replace(part, jsa)
            os.remove(marker)
    except OSError:
        pass
    finally:
        with contextlib.suppress(OSError):
            os.remove(part)


def get_spark(
    app_name: str = "tsatool_app_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master``/``shuffle_partitions`` default from env (SPARK_GRAFT_CPUS) so
    tests, bench.py, and the driver harness share one code path. On a real
    cluster, pass ``master=None`` with spark-submit providing the master.

    An active session is returned as it is: the defaults and ``extra_conf``
    apply only when a session is built. (The builder's getOrCreate would
    re-apply every runtime option to the live session, undoing what its
    first caller set.)
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true): byte-based
        # coalescing (parallelismFirst=false, coalesce to the 64 MB
        # advisory) collapses a ~150 MB hi-cardinality aggregation shuffle
        # to 2-3 reducers and serializes the final hash agg — bytes
        # underestimate CPU when cost is per-KEY, not per-byte.  Fresh-
        # session A/B at sf1 (6 M lineitem): every data-bound TPC-H head
        # 2.5-4x faster with the default (shipping_priority 4.72 -> 1.42 s,
        # waiting_suppliers 5.58 -> 1.79 s, large_volume_orders
        # 5.56 -> 2.05 s) and NO small-query penalty (nation_balance_share
        # 0.79 vs 0.82 s) — the earlier-round claim that false bought
        # 25-40% off small queries did not reproduce.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Every bucketed table here is bucketed DELIBERATELY (the
        # observation store on (statid, seid), the IVF index on cluster);
        # auto-bucketed-scan would silently fall back to a plain scan when
        # no join/agg wants the distribution, losing bucket PRUNING on
        # probe-shaped reads (nprobe IN-filters) — keep bucketed scans on.
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: keep file-split sizing explicit so partition count
        # scales with data volume, not file count.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Driver testdata stores events.ts as Parquet TIMESTAMP(NANOS), which
        # Spark's reader rejects; read as long nanos and convert in the loader
        # (model.load_table) with exact integer division.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver testdata timestamps are TIMESTAMP(MICROS, isAdjustedToUTC=
        # false); Spark 4 would infer TIMESTAMP_NTZ, which cannot be cast to
        # numeric (the ranges/combine operators do second-arithmetic via
        # cast(long)). Read them as TIMESTAMP_LTZ instead — with the session
        # TZ pinned to UTC above, the wall-clock values stay bit-identical to
        # DuckDB's naive timestamps, so oracle hashes are unaffected.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # local-mode heap: the single JVM holds every localCheckpoint block
        # of whichever pipeline is running; 8g forced GC thrash on the
        # 130-query board and OOM'd the 100x rehearsal (60 M-row inputs).
        # Default to ~25% of DETECTED system memory (capped at 32g, floored
        # at 2g) instead of a hardcoded 32g — on smaller hosts a fixed 32g
        # heap grows toward the OS OOM-killer instead of spilling. Cluster
        # deployments size executors via spark-submit and ignore this.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        # Generated-class cache (a static conf).  Spark's 100 entries are
        # fewer than the classes one operation compiles, so every repeat of
        # an unchanged plan (a stream's micro-batches, the CLI re-run over a
        # workbook) evicted and recompiled all of them: 0.5-0.7 s of a
        # 2.5-3.2 s warm operation.  Compiles per operation at Spark's
        # defaults, cold -> warm (4 cores): e2ebench sheet_report 192 -> 180,
        # corpus_mix 212 -> 201, the registry's 10-condition sheet_workload
        # 191 -> 172, and the largest repeated unit, a 2-sheet
        # e2ebench/gen.py workbook through the CLI, 362 -> 347 (212 distinct
        # classes).  With the two settings below: 138, 172, 114 and 150
        # cold, 0 warm (now and then 2-3, when AQE picks another join
        # strategy by stage timing).  Guava splits the capacity over 4
        # segments and evicts LRU within each one, so the value is ~4.7x the
        # largest unit, not just above it.  Evicted classes are not
        # unloaded, so the bigger cache loads fewer classes, not more.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # No stage number in whole-stage class names: AQE numbers stages
        # in the order it plans them, which varies between runs of one
        # plan, and a renumbered class misses the cache (sheet_workload
        # made 2-26 such compiles per warm operation).
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark wraps every Column and DataFrame method to record its
        # Python call site for error messages: per call an active-session
        # lookup, a conf read, setting and clearing the JVM-side origin,
        # and a stack walk.  py4j round trips of one warm e2ebench
        # corpus_mix operation (1,500 docs, 4 cores), on -> off: about
        # 14,600 -> 7,400 before pretraining_mix's near-dup stage was
        # slimmed, 9,200 -> 5,000 after.  The cost of turning it off: SQL
        # errors no longer name the Python line in their DataFrame
        # context (nothing here reads that context).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    conf = dict(extra_conf or {})
    archive = _driver_archive(master)
    if archive is not None:
        key = "spark.driver.extraJavaOptions"
        conf[key] = f"{conf[key]} {archive[0]}" if conf.get(key) else archive[0]
    for k, v in conf.items():
        builder = builder.config(k, v)
    if archive is None:
        return builder.getOrCreate()
    _, conf_dir, dump = archive
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir  # read by the launched JVM only
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if dump is not None:
        atexit.register(_publish_at_exit, SparkContext._gateway.proc, *dump)
    return spark
