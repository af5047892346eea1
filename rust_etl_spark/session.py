"""SparkSession factory tuned for this engine.

Local-mode defaults follow the driver environment (local[$SPARK_GRAFT_CPUS]),
but every knob here is chosen to also hold on a real multi-executor
cluster at large scale: AQE on (runtime coalesce + skew-join), broadcast
threshold sized for dimension tables, UTC session time zone so results
are comparable across engines, Arrow enabled for the few Pandas-UDF
operators.

The driver JVM starts from a class-data-sharing (CDS) archive of the
engine's classes when this host has one: see ``get_spark``.

Python workers of a session whose JVM ``get_spark`` launched import
``pyspark`` and ``py4j`` from the installed packages, not from Spark's
archives, when the installed ``pyspark`` is the archived release
(``rust_etl_spark/worker_daemon.py``); otherwise they import from the
archives as stock workers do. Nothing about this is configurable.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# A dump took 40-49 s on a 4-core host.
_DUMP_TIMEOUT_S = 600
_GATEWAY_EXIT_TIMEOUT_S = 60


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_mem() -> str:
    """Half of physical RAM, clamped to 2g..16g: 16g clears the 100x
    tier's sort buffers (see the inline comment at the config site), and
    a heap past half of RAM fails to launch on a smaller host.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides outright."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(
                next(line for line in f if line.startswith("MemTotal")).split()[1]
            )
        half_gb = max(2, total_kb // (1024 * 1024) // 2)
        return f"{min(16, half_gb)}g"
    except (OSError, StopIteration, ValueError):
        return "16g"


def _cds_dir() -> str:
    """Outside the checkout and outside ``TMPDIR``, so every checkout on
    the host shares the archive and no run's scratch cleanup deletes it."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "spark-graft", "cds")


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _stat_line(path: str) -> bytes:
    st = os.stat(path)
    return f"{path}\t{st.st_size}\t{st.st_mtime_ns}\n".encode()


def _archive_key(java: str, spark_home: str) -> str:
    """Hash of the JVM (real path, version) and of every jar on the
    launcher's classpath (path, size, mtime): a JDK or Spark upgrade
    gets a new archive."""
    h = hashlib.sha256(_stat_line(java))
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    if os.path.isfile(release):
        with open(release, "rb") as f:
            h.update(f.read())
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        h.update(_stat_line(jar))
    return h.hexdigest()[:24]


def _empty_conf_dir(spark_home: str, cds_dir: str) -> str | None:
    """An empty engine-owned stand-in for ``$SPARK_HOME/conf``, or None
    when the stock one holds a live file or ``SPARK_CONF_DIR`` points
    elsewhere: CDS refuses a non-empty directory on the classpath."""
    own = os.path.join(cds_dir, "conf")
    if os.environ.get("SPARK_CONF_DIR", own) != own:
        return None
    stock = os.path.join(spark_home, "conf")
    if os.path.isdir(stock) and any(not n.endswith(".template") for n in os.listdir(stock)):
        return None
    os.makedirs(own, exist_ok=True)
    return None if os.listdir(own) else own


def _someone_recording(cds_dir: str, key: str) -> bool:
    """Whether a live process holds a class list (or a dump) for
    ``key``; a dead process's leftovers are deleted."""
    live = False
    for path in glob.glob(os.path.join(cds_dir, f"{key}.*.*")):
        try:
            os.kill(int(path.rsplit(".", 2)[-2]), 0)
        except ProcessLookupError:
            _remove(path)
            continue
        except ValueError:
            continue
        except PermissionError:  # alive, and another user's
            pass
        live = True
    return live


def _cds_launch() -> tuple[str, str | None, str] | None:
    """(archive, class list, conf dir) for a driver JVM about to launch,
    or None to launch it without CDS. The class list is None when the
    archive exists (the JVM maps it); else the JVM records its loaded
    classes to it for a dump at exit, unless another live process
    already does."""
    java_home = os.environ.get("JAVA_HOME")  # as bin/spark-class picks it
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    spark_home = _find_spark_home()
    cds_dir = _cds_dir()
    try:
        conf_dir = _empty_conf_dir(spark_home, cds_dir)
        if conf_dir is None:
            return None
        key = _archive_key(os.path.realpath(java), spark_home)
        archive = os.path.join(cds_dir, f"{key}.jsa")
        if os.path.isfile(archive):
            return archive, None, conf_dir
        if _someone_recording(cds_dir, key):
            return None
    except OSError:
        return None
    return archive, os.path.join(cds_dir, f"{key}.{os.getpid()}.classlist"), conf_dir


def _await_exit(gateway_proc) -> bool:
    """Stop the running session (which also shuts its accumulator server
    down cleanly), close the gateway JVM's stdin, on which it exits, and
    wait for it, so no JVM outlives this process. False when it had to
    be killed."""
    if gateway_proc.poll() is not None:
        return True
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway_proc.stdin.close()
        gateway_proc.wait(timeout=_GATEWAY_EXIT_TIMEOUT_S)
        return True
    except (OSError, ValueError, Py4JError, subprocess.TimeoutExpired):
        gateway_proc.kill()
        gateway_proc.wait()
        return False


def _dump_at_exit(gateway_proc, java: str, classpath: str, classlist: str, archive: str) -> None:
    """Once the gateway JVM has exited, so its class list is complete,
    dump the archive from the list. Runs after the process's last
    output; ``subprocess.run`` kills the dump child on timeout or on an
    exception."""
    tmp = f"{classlist[: -len('.classlist')]}.tmp"
    try:
        if _await_exit(gateway_proc):
            subprocess.run(
                [java, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
                 f"-XX:SharedArchiveFile={tmp}", "-cp", classpath],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                timeout=_DUMP_TIMEOUT_S, check=True)
            os.replace(tmp, archive)
    except (OSError, subprocess.SubprocessError):
        pass
    finally:
        _remove(tmp)
        _remove(classlist)


def _cds_started(spark: SparkSession, gateway_proc, archive: str, classlist: str | None) -> None:
    """A mapped archive the JVM could not use (truncated, from another
    JVM build or another classpath) is deleted, so the next start records
    a new one. A recorded class list is dumped at exit, unless its
    classpath holds a non-empty directory (added by a setting such as
    ``HADOOP_CONF_DIR``), which CDS refuses."""
    if classlist is None:
        if not cds_active(spark):
            _remove(archive)
        return
    props = spark._jvm.System
    classpath = props.getProperty("java.class.path")
    if any(os.path.isdir(p) and os.listdir(p) for p in classpath.split(os.pathsep)):
        atexit.register(_remove, classlist)
        return
    java = os.path.join(props.getProperty("java.home"), "bin", "java")
    atexit.register(_dump_at_exit, gateway_proc, java, classpath, classlist, archive)


def cds_active(spark: SparkSession) -> bool:
    """Whether the driver JVM started from the engine's CDS archive: it
    was passed one and ``java.vm.info`` reports sharing (a JVM that
    cannot map the archive starts with no sharing at all)."""
    jvm = spark._jvm
    args = str(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    return "-XX:SharedArchiveFile=" in args and "sharing" in jvm.System.getProperty("java.vm.info")


def _export_engine_path() -> None:
    """Put the directory that holds ``rust_etl_spark`` on ``PYTHONPATH``.

    The JVM starts the Python workers with the environment it was
    launched with, and a worker unpickles an engine function by
    importing its module; without this, a script run from outside the
    checkout fails in the first Python UDF (``ModuleNotFoundError``)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([*paths, root])


def get_spark(
    app_name: str = "rust_etl_spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``shuffle_partitions`` defaults to the local core count: on
    local[N] the 200-partition default just adds scheduling overhead,
    while on a big cluster AQE coalesces post-shuffle partitions to
    the right size anyway (`spark.sql.adaptive.coalescePartitions`).

    A call that launches the driver JVM also makes the interpreter's
    exit close the JVM and wait for it, so no JVM outlives the process.

    Class-data sharing: a call that launches the driver JVM gives it a
    CDS archive of the classes a run loads, which about halves the cold
    start. The archive is ``<key>.jsa`` under
    ``$XDG_CACHE_HOME/spark-graft/cds`` (``~/.cache/...`` when unset),
    keyed by the JVM (real path, version) and the jars on the launcher's
    classpath (path, size, mtime), so checkouts share it and a JDK or
    Spark upgrade gets a new one. With no archive, the JVM records the
    classes it loads, and at interpreter exit, after the JVM has exited,
    ``java -Xshare:dump`` builds the archive (tens of seconds, once per
    key; nothing is printed). Later starts map it through
    ``spark.driver.defaultJavaOptions``, with ``SPARK_CONF_DIR`` pointed
    at an empty directory in the cache, because CDS refuses a non-empty
    directory on the classpath. An archive the JVM cannot map is deleted
    after the start, so the next start rebuilds it. CDS is skipped, and
    the start is the plain one, when ``$SPARK_HOME/conf`` holds a file
    other than a ``*.template``, ``SPARK_CONF_DIR`` names another
    directory, the cache is unwritable, or another live process is
    recording; nothing is dumped when a setting puts a non-empty
    directory on the driver's classpath.

    Python workers: a call that launches the driver JVM also sets
    ``spark.python.daemon.module`` to ``rust_etl_spark.worker_daemon``,
    over any ``extra_conf`` value. Its workers import ``pyspark`` and
    ``py4j`` from the installed packages instead of ``pyspark.zip``, the
    py4j zip and the spark-core jar, so a task no longer re-parses the
    archives (~0.15 s per task), but only when the installed ``pyspark``
    has the archived ``version.py`` and ``py4j`` imports without its
    zip; otherwise they import from the archives, as stock workers do.
    A session attached to a JVM launched elsewhere keeps the stock daemon.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Let AQE pick the post-shuffle partition count by bytes, not
        # the static cores count: start wide (8x cores) and coalesce to
        # ~64 MB targets. Small tiers coalesce back to a handful of
        # partitions (no extra scheduling), while GB-scale shuffles get
        # enough sort partitions to stay in memory — at the 100x tier
        # with a fixed 32, join_star (whose dims outgrow the broadcast
        # threshold there and fall back to shuffle joins) and
        # window_range_frame each sorted >1 GB shuffles through 32
        # partitions and spilled 5.2 / 2.6 GB; starting at 256 removes
        # the spill. This mirrors the right cluster setting: partition
        # count scales with data volume, AQE owns the final number.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(8 * cores))
        # AQE's 64 MB default advisory target is sized for cluster
        # executors with GBs of execution memory per task; here each of
        # the 32 local task slots gets ~heap*0.6/32 ≈ 300 MB, and a
        # 64 MB shuffle partition expands ~5x as unsafe rows + sort
        # buffers — the 100x tier's q21 sorted exactly at that edge and
        # spilled 9.3 GB (wall 16.2 s). 16 MB targets keep post-shuffle
        # sorts in memory (q21: zero spill, 12.8 s) and coalesce
        # identically for small shuffles (anything < 16 MB is still one
        # partition). Cluster translation: advisory size ≈
        # (executor memory * memory fraction / cores) / ~5x row
        # expansion, rather than a constant.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet stores ts as TIMESTAMP(NANOS): read as long
        # (nanos) and convert in the loader, as Spark has no nanos type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Byte-small but compute-heavy tables (embeddings: 64-float
        # arrays driving O(N*C) distance folds) under-split at the
        # default 4 MB openCost floor — a 6 MB single-file scan plans
        # 1-2 tasks and serializes 100% of the kernel work on one core
        # (the 10x scaling run measured kmeans_iterate at 46x for 10x
        # rows from exactly this). Lowering the split floor restores
        # row-group-grain parallelism; on a real cluster the file count
        # provides it and these two mostly don't bind.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.ui.enabled", "false")
        # Local mode: all executor threads share the driver JVM, so
        # per-task execution memory is heap * 0.6 / cores. At 8g/32
        # cores that is ~150 MB — the 100x tier's GB-scale sort-merge
        # joins and two-level window sorts need ~190 MB/task and
        # spilled 5.2/2.6 GB (join_star / window_range_frame); 16g
        # clears both to zero spill. The cluster translation: size
        # executor memory so sort buffers cover shuffle-partition
        # bytes, or equivalently keep partition bytes under
        # (executor memory * fraction / cores).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
    )
    conf = dict(extra_conf or {})
    launching = SparkContext._gateway is None
    if launching:
        # Only a JVM launched here has the engine on its workers' path.
        _export_engine_path()
        conf["spark.python.daemon.module"] = "rust_etl_spark.worker_daemon"
    launch = _cds_launch() if launching else None
    if launch is not None:
        archive, classlist, conf_dir = launch
        option = (f"-XX:DumpLoadedClassList={classlist}" if classlist
                  else f"-XX:SharedArchiveFile={archive}")
        # The default options, not the extra ones that callers set
        # (perfbench does): Spark puts these first and keeps both.
        conf["spark.driver.defaultJavaOptions"] = " ".join(
            filter(None, [option, conf.get("spark.driver.defaultJavaOptions")]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if launch is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved_conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    # None when pyspark attached to a JVM it did not launch.
    gateway_proc = SparkContext._gateway.proc if launching else None
    if gateway_proc is not None:
        atexit.register(_await_exit, gateway_proc)
        if launch is not None:
            _cds_started(spark, gateway_proc, archive, classlist)
    spark.sparkContext.setLogLevel("WARN")
    return spark
