"""SparkSession factory.

Every entry point shares one opinionated local-mode config:
AQE on (runtime coalesce + skew handling), Arrow on (pandas UDF fast
path), shuffle partitions sized to the machine instead of the 200
default. On a real cluster the same settings hold, except
``spark.sql.shuffle.partitions`` should scale with executor count —
AQE's coalescePartitions makes over-provisioning cheap, so we set a
high initial number and let AQE shrink it.

Class-data sharing. The driver JVM starts from a JDK dynamic AppCDS
archive, which skips most first-touch class loading (perfbench
``mape_anonymize`` setup_s fell from 39 to 33 s on 4 cores). The archive
lives at ``/tmp/mape_spark_cds/<key>.jsa``, a fixed path outside
``$TMPDIR`` and the fixture root, because both get wiped between
benchmark runs. ``<key>`` hashes the Java build that ``spark-class``
runs, the pyspark version and each Spark jar's name, size and mtime in
directory order (the JVM expands ``jars/*`` in that order and the
archive pins every jar). The lifecycle:

* no archive: the JVM gets ``-XX:ArchiveClassesAtExit=<key>.jsa.<pid>``
  (``<pid>`` is this interpreter's) and writes the candidate when it
  exits; the interpreter waits for that at exit. This session sets up
  about 4 s slower.
* a later start probes each candidate whose writer is dead with
  ``java -Xshare:on ... -version`` on the same classpath and renames a
  good one to ``<key>.jsa``. A truncated archive is not a silent
  fallback (the JVM dies of SIGBUS), so only a probed ``<key>.jsa`` is
  ever mapped. Failed candidates and other keys' files are deleted.
* a junk or mismatched ``<key>.jsa`` falls back to a normal start and
  is deleted, so the next start dumps a fresh one.

The JDK refuses to dump with a non-empty directory on the classpath, so
``SPARK_CONF_DIR`` points at the empty ``<root>/conf`` while the JVM
launches. If the effective conf dir holds anything but ``*.template``
files, or the classpath is changed by the environment, no archive is
used: user config is never dropped. The archive is code the JVM maps,
so no archive is used either unless ``<root>`` (created mode 0700) is a
real directory of this user that no one else can write to. The flags go in
``spark.driver.defaultJavaOptions``, which the launcher puts before a
caller's ``spark.driver.extraJavaOptions``. The outcome is recorded in
the session conf as ``spark.graft.cds``: ``mapped`` (the JVM maps
``<key>.jsa``), ``dumping`` or ``off``; a session whose JVM was started
elsewhere (``$PYSPARK_GATEWAY_PORT``, or another builder first) reports
``off``. ``rm -rf /tmp/mape_spark_cds`` resets it.

Generated-code cache. Whole-stage codegen compiles each distinct
generated source with Janino once and keeps the class in a JVM-wide LRU
cache of ``spark.sql.codegen.cache.maxEntries`` entries (default 100, a
static conf, so it is set in the builder). One perfbench pass generates
134 distinct classes in ``mape_anonymize`` and 232 in
``corpus_curation``; a pass that cycles through more classes than the
cache holds evicts each before its next use, so on a 4-core host every
warm pass recompiled about 120 (mape) and 230 (corpus) classes, and
HotSpot then JIT-compiled the fresh classes again. 1000 entries is over 4x the larger
working set; at about 7 KB of source key plus 6 KB of bytecode per entry
it costs about 14 MB at the cap, against the 8 GB default driver heap.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import stat
import subprocess
from typing import NamedTuple

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_CDS_ROOT = "/tmp/mape_spark_cds"
# Each changes the launcher's classpath away from ``<conf>/:jars``.
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING", "SPARK_SQL_TESTING", "SPARK_CONNECT_BEELINE",
)
_CDS_LOG_OFF = "-Xlog:cds*=off"  # a dump prints ~70 warnings; a mismatch one more
_cds_state = "off"  # spark.graft.cds of the JVM get_spark launched in this interpreter


def resolve_cpus(cpus: str | int | None = None) -> int | None:
    """Local core count from ``cpus``, else $SPARK_GRAFT_CPUS.

    ``''`` and ``'*'`` (and an unset variable) mean all local cores and
    return None; a positive integer means that many. Anything else
    raises ValueError naming the variable."""
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    text = str(cpus)
    if text in ("", "*"):
        return None
    if text.isdigit() and int(text) > 0:
        return int(text)
    raise ValueError(
        f"SPARK_GRAFT_CPUS must be '*', empty, or a positive integer, got {cpus!r}"
    )


def resolve_shuffle_partitions(n: str | int | None = None) -> int:
    """Shuffle partitions from ``n``, else $SPARK_GRAFT_SHUFFLE, else 32.

    Anything but a positive integer raises ValueError naming the variable."""
    if n is None:
        n = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
    return _positive_int("SPARK_GRAFT_SHUFFLE", n)


def resolve_driver_memory(mem: str | None = None) -> str:
    """Driver heap from ``mem``, else $SPARK_GRAFT_DRIVER_MEM, else ``8g``.

    Digits with an optional ``k``/``m``/``g``/``t`` suffix in either case,
    as ``-Xmx`` takes them; anything else raises ValueError naming the
    variable."""
    if mem is None:
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if re.fullmatch(r"\d+[kmgt]?", str(mem), re.IGNORECASE):
        return str(mem)
    raise ValueError(
        f"SPARK_GRAFT_DRIVER_MEM must be digits with an optional k/m/g/t suffix, got {mem!r}"
    )


def _positive_int(var: str, value: str | int) -> int:
    text = str(value)
    if text.isdigit() and int(text) > 0:
        return int(text)
    raise ValueError(f"{var} must be a positive integer, got {value!r}")


def _existing_dir(var: str, path: str) -> str:
    if path and os.path.isdir(path):
        return path
    raise ValueError(f"{var} must name an existing directory, got {path!r}")


def resolve_sf_dir(default: str, sf_dir: str | None = None) -> str:
    """Table directory from ``sf_dir``, else $SPARK_GRAFT_SF_DIR, else
    ``default``. Anything but an existing directory raises ValueError
    naming the variable."""
    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", default)
    return _existing_dir("SPARK_GRAFT_SF_DIR", sf_dir)


def resolve_warmup_sf_dir(default: str, sf_dir: str | None = None) -> str | None:
    """Warm-up table directory from ``sf_dir``, else
    $SPARK_GRAFT_WARMUP_SF_DIR, else ``default``. ``''`` turns the
    warm-up off and returns None; anything else but an existing
    directory raises ValueError naming the variable."""
    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", default)
    if sf_dir == "":
        return None
    return _existing_dir("SPARK_GRAFT_WARMUP_SF_DIR", sf_dir)


def resolve_bench_runs(n: str | int | None = None) -> int:
    """Timed passes per bench sample from ``n``, else
    $SPARK_GRAFT_BENCH_RUNS, else 3. Anything but a positive integer
    raises ValueError naming the variable."""
    if n is None:
        n = os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")
    return _positive_int("SPARK_GRAFT_BENCH_RUNS", n)


def _java() -> str | None:
    """The java binary ``spark-class`` runs: $JAVA_HOME/bin/java, else PATH's."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java else None


def _private_root(root: str) -> bool:
    """Create ``root`` (mode 0700) if missing; True only if it is a real
    directory of this user that no one else can write to, so no other user
    can plant an archive in it or a symlink where a candidate will go."""
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.lstat(root)
    return (
        stat.S_ISDIR(st.st_mode)
        and st.st_uid == os.getuid()
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    )


def _cds_key(java: str, spark_home: str) -> str:
    """Archive key: the Java build's ``release`` file, the pyspark version,
    and each jar's name, size and mtime in directory order."""
    h = hashlib.sha256()
    with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
        h.update(f.read())
    h.update(f"{java}\0{pyspark.__version__}\n".encode())
    jars = os.path.join(spark_home, "jars")
    for name in os.listdir(jars):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _cds_classpath(conf_dir: str, spark_home: str) -> str:
    """The driver classpath the Spark launcher builds when no
    ``_CLASSPATH_ENV`` variable is set: conf dir, slf4j-api first, jars."""
    jars = os.path.join(spark_home, "jars")
    slf4j = [os.path.join(jars, n) for n in os.listdir(jars) if n.startswith("slf4j-api-")]
    return ":".join([conf_dir + "/", *slf4j, os.path.join(jars, "*")])


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, another user's
        pass
    return True


def _publish_cds(root: str, key: str, java: str, classpath: str, driver_mem: str) -> str:
    """Publish a verified candidate of ``key`` and prune ``root``; return
    the path of ``<key>.jsa`` (which may not exist).

    A candidate ``<key>.jsa.<pid>`` whose writer is alive is left alone.
    A dead writer's candidate is probed only while no ``<key>.jsa``
    exists; it is renamed if the probe exits 0 and deleted otherwise.
    Every file of another key is deleted."""
    archive = os.path.join(root, f"{key}.jsa")
    for name in os.listdir(root):
        stem, jsa, suffix = name.partition(".jsa")
        path = os.path.join(root, name)
        if not jsa or path == archive:
            continue
        writer = suffix[1:]
        if writer.isdigit() and _pid_alive(int(writer)):
            continue
        if stem == key and writer.isdigit() and not os.path.exists(archive):
            probe = subprocess.run(
                # exits 0 if good, 134 (SIGBUS) if truncated, 1 if junk or
                # on another classpath; the crash log would land in the cwd
                [java, "-Xshare:on", f"-XX:SharedArchiveFile={path}", _CDS_LOG_OFF,
                 "-XX:ErrorFile=/dev/null", f"-Xmx{driver_mem}", "-cp", classpath,
                 "-version"],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL, timeout=120,
            )
            if probe.returncode == 0:
                with contextlib.suppress(FileNotFoundError):
                    os.rename(path, archive)
                continue
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)
    return archive


class _CdsPlan(NamedTuple):
    state: str  # "mapped" or "dumping"
    archive: str  # the file mapped or dumped
    conf_dir: str

    @property
    def java_opts(self) -> str:
        flag = "SharedArchiveFile" if self.state == "mapped" else "ArchiveClassesAtExit"
        return f"-XX:{flag}={self.archive} {_CDS_LOG_OFF}"


def _cds_plan(driver_mem: str, extra_conf: dict[str, str]) -> _CdsPlan | None:
    """How to launch the driver JVM with the archive, or None when no
    archive can be used."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    empty_conf = os.path.join(_CDS_ROOT, "conf")
    java = _java()
    if (
        java is None
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or extra_conf.get("spark.driver.extraClassPath")
    ):
        return None
    try:
        if os.path.isdir(conf_dir) and not all(
            n.endswith(".template") for n in os.listdir(conf_dir)
        ):
            return None  # user config: never drop it
        if not _private_root(_CDS_ROOT):
            return None
        key = _cds_key(java, spark_home)
        os.makedirs(empty_conf, mode=0o700, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        classpath = _cds_classpath(empty_conf, spark_home)
        archive = _publish_cds(_CDS_ROOT, key, java, classpath, driver_mem)
    except (OSError, subprocess.SubprocessError):
        return None
    if os.path.exists(archive):
        return _CdsPlan("mapped", archive, empty_conf)
    return _CdsPlan("dumping", f"{archive}.{os.getpid()}", empty_conf)


@contextlib.contextmanager
def _env(name: str, value: str | None):
    """Set (or leave, if ``value`` is None) one environment variable."""
    old = os.environ.get(name)
    if value is not None:
        os.environ[name] = value
    try:
        yield
    finally:
        if value is not None:
            if old is None:
                del os.environ[name]
            else:
                os.environ[name] = old


def _await_dump(proc: subprocess.Popen) -> None:
    """End the driver JVM and wait while it writes its archive, so the
    candidate is complete by the time this interpreter's pid is dead."""
    with contextlib.suppress(Exception):
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()  # else its servers see the JVM go
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def _cds_outcome(spark: SparkSession, plan: _CdsPlan | None) -> str:
    """``spark.graft.cds`` for a JVM just launched with ``plan``."""
    if plan is None:
        return "off"
    gateway = spark.sparkContext._gateway
    if plan.state == "dumping":
        atexit.register(_await_dump, gateway.proc)
        return "dumping"
    pid = gateway.jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/maps") as f:
            if plan.archive in f.read():
                return "mapped"
    except OSError:  # no procfs: the mapping cannot be seen
        return "off"
    # the JVM fell back (junk or mismatched archive): let the next start dump anew
    with contextlib.suppress(FileNotFoundError):
        os.remove(plan.archive)
    return "off"


def get_spark(
    app_name: str = "mape_anonymization_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all local cores;
    ``shuffle_partitions`` to $SPARK_GRAFT_SHUFFLE, else 32. The first
    call in an interpreter launches the driver JVM from the class-data
    archive (module docstring).
    """
    global _cds_state
    n_cpus = resolve_cpus(cpus)
    shuffle_partitions = resolve_shuffle_partitions(shuffle_partitions)
    driver_mem = resolve_driver_memory()
    extra_conf = dict(extra_conf or {})
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    plan = (
        _cds_plan(extra_conf.get("spark.driver.memory", driver_mem), extra_conf)
        if launching else None
    )
    if plan is not None:
        extra_conf["spark.driver.defaultJavaOptions"] = " ".join(
            filter(None, [plan.java_opts, extra_conf.get("spark.driver.defaultJavaOptions")])
        )

    builder = (
        SparkSession.builder.master(f"local[{n_cpus or '*'}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    with _env("SPARK_CONF_DIR", plan and plan.conf_dir):
        spark = builder.getOrCreate()
    if launching:  # the gateway JVM outlives stop(), so the state holds until exit
        _cds_state = _cds_outcome(spark, plan)
    spark.conf.set("spark.graft.cds", _cds_state)
    spark.sparkContext.setLogLevel("WARN")
    return spark
