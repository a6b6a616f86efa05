"""SparkSession construction + runtime configuration for the CLIF-Spark engine.

The reference (kaveriC/CLIF) runs single-node eager R with hand-managed memory
(`/root/reference/code/RCLIF_dialysis.Rmd:14` memory.limit; chunked ingest at
`code/RCLIF_vitals.Rmd:23-24`). None of that carries over: Spark's unified memory
manager + input-split parallelism + AQE replace it. What this module pins down is
*semantics* the engine depends on:

- ``spark.sql.ansi.enabled=false`` — R's ``as.numeric("junk") -> NA`` maps to
  ``cast('double') -> NULL`` (SURVEY §1.5); Spark 4 defaults ANSI on, which would
  raise instead.
- ``spark.sql.session.timeZone=UTC`` — the reference formats epoch seconds with no
  explicit TZ (`code/RCLIF_vitals.Rmd:60`); we fix UTC everywhere so oracle
  comparisons are deterministic (SURVEY §7.4.4).
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver's events table stores
  TIMESTAMP(NANOS) which Spark cannot read natively; we read nanos as long and
  normalize to TimestampType (micros) in `clif_spark.io`.
- AQE on (skew-join splitting + shuffle coalescing) — encounter/user keys are
  skewed in EHR data; at 100 TB this is the difference between a straggler task
  and a balanced stage. bench.py turns it off below 1 GB of input, where its
  stage-by-stage materialization only adds latency.

The confs are applied where a session enters the engine, never per query:
``build_session`` sets them through the builder, and ``configure`` sets
them on a session we did not build (the correctness driver owns its own
SparkSession and hands it to ``__spark_entry__``). Registered queries read
whatever the caller's session holds, so a conf the caller set after that
point stands.

Cold start. A fresh driver JVM loads about 11,000 classes while the session
is built and 13,000 more in the first queries, each looked up among the 287
jars of ``$SPARK_HOME/jars``, parsed and verified again on every run. A
driver JVM that ``build_session`` launches maps them pre-parsed from an
AppCDS (class-data sharing) archive in ``${XDG_CACHE_HOME:-~/.cache}/
clif_spark/cds/`` (mode 0700), one per java home and jars listing (names,
sizes, mtimes):

1. The first session on a machine records the classes it loads
   (``-XX:DumpLoadedClassList``) and its live ``java.class.path``.
2. The next launch first dumps the archive, once (``java -Xshare:dump``,
   killed after ``CDS_DUMP_TIMEOUT_S``): on 4 cores 37 s and 191 MB from
   one perfbench pass's list, 50 s and 234 MB from a whole test run's.
   A dump that fails leaves a marker and is never tried again.
3. Every later launch maps it (``-XX:SharedArchiveFile``, after the caller's
   ``spark.driver.extraJavaOptions``). The JVM's default ``-Xshare:auto``
   launches plainly on any mismatch.

The JVM refuses an archive while the classpath holds a non-empty directory,
and Spark puts its conf directory first. So each of these launches points
``SPARK_CONF_DIR`` at an empty cache subdirectory, and restores
``os.environ`` once the JVM is up. That changes nothing only while the
effective conf directory holds nothing but ``*.template`` files; if it holds
any other file, the archive path is off. Delete the cache directory to drop
the archive; the next session records again. A session that joins a running
JVM (``__spark_entry__``'s driver owns its own) is left as it is.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: Static codegen cache size. One ehr_etl pass compiles about 245 classes,
#: so Spark's default of 100 evicted them and every later pass in the same
#: session compiled about 240 again; at 2000 a later pass compiles 4-12.
CODEGEN_CACHE_MAX_ENTRIES = "2000"

#: Seconds the one-time class-archive dump may run before it is killed.
CDS_DUMP_TIMEOUT_S = 90

#: Runtime-settable SQL confs every engine entry point applies.
RUNTIME_CONFS: dict[str, str] = {
    # R-like cast semantics: junk -> NULL, not error (SURVEY §2.8 F11, §7.4.3).
    "spark.sql.ansi.enabled": "false",
    # Deterministic timestamp policy (SURVEY §7.4.4).
    "spark.sql.session.timeZone": "UTC",
    # Driver testdata events.ts is parquet TIMESTAMP(NANOS).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: skew-join splitting, shuffle-partition coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the (rare, documented) pandas-UDF paths — multimodal decode.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bigger Arrow batches for the mapInArrow/mapInPandas paths: the
    # per-batch framing + Python dispatch overhead is fixed, and the
    # payload-heavy consumers (ANN matmul, WARC parse) do one vectorized
    # pass per batch — 64k rows x a 64-float embedding is ~33 MB, well
    # inside worker memory (measured ~10% off the sf10 ANN row vs the
    # 10k default).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # ...but the record cap alone is payload-blind (ADVICE r11): 64k
    # rows of multi-MB WARC/JPEG blobs would make one multi-GB batch.
    # The byte cap closes a batch when EITHER condition is met (Spark
    # reads both), so embedding-shaped rows still ride 64k-row batches
    # (~33 MB < cap) while blob-heavy mapInArrow/mapInPandas stages are
    # bounded at ~64 MiB regardless of row count. Pinned by
    # tests/test_plans.py::test_arrow_batch_byte_cap.
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 << 20),
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to a session we did not build
    (idempotent); ``__spark_entry__`` calls it on the driver's session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment; engine code paths degrade
            # gracefully (io.py converts ts columns defensively).
            pass
    return spark


def build_session(
    app_name: str = "clif-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session sized for this container (tests/bench).

    On a real cluster the caller owns master/resources; only the SQL confs in
    ``RUNTIME_CONFS`` matter there. ``extra_confs`` lets a harness (bench.py)
    layer static confs that must be set before the JVM starts — they are NOT
    part of the engine's semantic surface. A launch of a fresh driver JVM
    goes through the class archive (module docstring).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("CLIF_SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": CODEGEN_CACHE_MAX_ENTRIES,
        **RUNTIME_CONFS,
        **(extra_confs or {}),
    }
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        with contextlib.suppress(OSError):  # a cache it cannot use: launch plainly
            launch = _archive_launch(confs.get("spark.driver.extraJavaOptions"))
    if launch:
        confs["spark.driver.extraJavaOptions"] = launch.java_opts
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in confs.items():
        builder = builder.config(k, v)
    # getOrCreate applies the builder's modifiable SQL confs to an
    # already-running session too, so no separate configure pass
    if not launch:
        return builder.getOrCreate()
    with _env("SPARK_CONF_DIR", launch.conf_dir):
        spark = builder.getOrCreate()
    if launch.record:
        rec = {k: spark._jvm.System.getProperty(f"java.{k}")
               for k in ("class.path", "home")}
        with contextlib.suppress(OSError):
            with open(launch.base + ".cp.tmp", "w") as f:
                json.dump(rec, f)
            os.replace(launch.base + ".cp.tmp", launch.base + ".cp")
    return spark


@dataclass(frozen=True)
class _Launch:
    java_opts: str  # the driver's spark.driver.extraJavaOptions
    conf_dir: str  # the empty SPARK_CONF_DIR for the launch
    base: str  # <cache>/<key>: .classlist, .cp, .jsa, .failed
    record: bool  # step 1: write <base>.cp once the JVM is up


def _archive_launch(java_opts: str | None) -> _Launch | None:
    """How to launch a fresh driver JVM: one of the three archive steps, or
    None for a plain launch. Step 2 runs the dump here; nothing else is
    launched and ``os.environ`` is not touched. Raises OSError when the
    cache cannot be used."""
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java = os.environ.get("JAVA_HOME") or shutil.which("java")
    d = os.path.join(os.environ.get("XDG_CACHE_HOME")
                     or os.path.join(os.path.expanduser("~"), ".cache"),
                     "clif_spark", "cds")
    # extraJavaOptions is split on whitespace and quotes
    if not java or any(c in d for c in " \t\n'\""):
        return None
    names = os.listdir(conf) if os.path.exists(conf) else []
    if any(not n.endswith(".template") for n in names):
        return None
    key = hashlib.sha256(os.path.realpath(java).encode())
    jars = os.path.join(spark_home, "jars")
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        st = e.stat()
        key.update(f"\n{e.name}\t{st.st_size}\t{st.st_mtime_ns}".encode())
    conf_dir = os.path.join(d, "conf")
    os.makedirs(conf_dir, mode=0o700, exist_ok=True)
    os.chmod(d, 0o700)
    base = os.path.join(d, key.hexdigest()[:24])

    def launch(flag: str, record: bool = False) -> _Launch:
        opts = " ".join(filter(None, [java_opts, flag]))
        return _Launch(opts, conf_dir, base, record)

    if os.path.exists(base + ".failed"):
        return None
    if os.path.exists(base + ".jsa") or (
            os.path.exists(base + ".classlist") and _dump(base)):
        return launch(f"-XX:SharedArchiveFile={base}.jsa")
    try:  # one recorder per key
        os.close(os.open(base + ".classlist",
                         os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600))
    except FileExistsError:
        return None
    return launch(f"-XX:DumpLoadedClassList={base}.classlist", record=True)


def _dump(base: str) -> bool:
    """Step 2: dump the recorded class list into ``<base>.jsa``. False
    while the recorder still runs or another process dumps; a failed or
    timed-out dump leaves ``<base>.failed``. A list whose recorder died
    before it saved its classpath is deleted, so the launch records anew."""
    if _recording(base):
        return False
    try:
        with open(base + ".cp") as f:
            rec = json.load(f)
        java, cp = os.path.join(rec["home"], "bin", "java"), rec["class.path"]
    except (FileNotFoundError, ValueError, KeyError):
        os.remove(base + ".classlist")
        return False
    with open(base + ".classlist", "rb+") as classlist:
        try:
            fcntl.flock(classlist, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return False
        if os.path.exists(base + ".jsa"):
            return True
        # a recorder killed mid-write leaves a partial last line
        classlist.truncate(classlist.read().rfind(b"\n") + 1)
        tmp = f"{base}.{os.getpid()}.tmp"
        cmd = [java, "-Xshare:dump", f"-XX:SharedClassListFile={base}.classlist",
               f"-XX:SharedArchiveFile={tmp}",
               "--add-modules=jdk.incubator.vector", "-cp", cp]
        try:
            ok = subprocess.run(
                cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                timeout=CDS_DUMP_TIMEOUT_S).returncode == 0
        except (OSError, subprocess.TimeoutExpired):  # run() killed it
            ok = False
        if ok and os.path.exists(tmp):
            os.replace(tmp, base + ".jsa")
            return True
        with contextlib.suppress(OSError):
            os.remove(tmp)
        open(base + ".failed", "w").close()
        return False


def _recording(base: str) -> bool:
    """Whether a live process still writes ``base``'s class list."""
    flag = f"-XX:DumpLoadedClassList={base}.classlist".encode()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        with contextlib.suppress(OSError), open(f"/proc/{pid}/cmdline", "rb") as f:
            if flag in f.read():
                return True
    return False


@contextlib.contextmanager
def _env(name: str, value: str):
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            del os.environ[name]
        else:
            os.environ[name] = old
