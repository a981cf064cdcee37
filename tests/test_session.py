"""Session settings, the class-data-sharing archive and the codegen cache.

Everything here runs without a Spark session except
``test_archive_lifecycle_in_a_fresh_interpreter``, which starts its own
in a subprocess (the tier-1 session is already up in this one), and
``test_warm_cycle_recompiles_nothing``, which runs on the shared one."""

import os
import subprocess
import sys
import types

import pytest

from mape_calculation_and_anonymization_spark import session
from mape_calculation_and_anonymization_spark.session import (
    resolve_bench_runs,
    resolve_cpus,
    resolve_driver_memory,
    resolve_sf_dir,
    resolve_shuffle_partitions,
    resolve_warmup_sf_dir,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "value, expected", [("", None), ("*", None), ("1", 1), ("32", 32)]
)
def test_resolve_cpus_env(monkeypatch, value, expected):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert resolve_cpus() == expected


def test_resolve_cpus_unset_means_all_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert resolve_cpus() is None


def test_resolve_cpus_explicit_argument_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "bogus")
    assert resolve_cpus(8) == 8
    assert resolve_cpus("*") is None


@pytest.mark.parametrize("value", ["0", "-2", "four", "2.5", " 4", "8*"])
def test_resolve_cpus_rejects_invalid(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        resolve_cpus()


@pytest.mark.parametrize("value, expected", [(None, 32), ("1", 1), ("200", 200)])
def test_resolve_shuffle_partitions_env(monkeypatch, value, expected):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", value)
    assert resolve_shuffle_partitions() == expected
    assert resolve_shuffle_partitions(8) == 8


@pytest.mark.parametrize("value", ["0", "-4", "abc", "", "2.5", " 8"])
def test_resolve_shuffle_partitions_rejects_invalid(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE"):
        resolve_shuffle_partitions()


@pytest.mark.parametrize("value, expected", [(None, "8g"), ("512m", "512m"), ("2g", "2g"),
                                             ("8G", "8G"), ("1048576", "1048576")])
def test_resolve_driver_memory_env(monkeypatch, value, expected):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    assert resolve_driver_memory() == expected


@pytest.mark.parametrize("value", ["", "8 g", "8gb", "g", "-1g", "1.5g", "8G; rm"])
def test_resolve_driver_memory_rejects_invalid(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        resolve_driver_memory()


@pytest.mark.parametrize("value, expected", [(None, 3), ("1", 1), ("7", 7)])
def test_resolve_bench_runs_env(monkeypatch, value, expected):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_BENCH_RUNS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", value)
    assert resolve_bench_runs() == expected
    assert resolve_bench_runs(5) == 5


@pytest.mark.parametrize("value", ["0", "-1", "three", "", "1.5", " 3"])
def test_resolve_bench_runs_rejects_invalid(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_BENCH_RUNS"):
        resolve_bench_runs()


@pytest.mark.parametrize("var, resolve", [
    ("SPARK_GRAFT_SF_DIR", resolve_sf_dir),
    ("SPARK_GRAFT_WARMUP_SF_DIR", resolve_warmup_sf_dir),
])
def test_resolve_table_dirs(monkeypatch, tmp_path, var, resolve):
    default, chosen = tmp_path / "sf1", tmp_path / "sf2"
    default.mkdir()
    chosen.mkdir()
    monkeypatch.delenv(var, raising=False)
    assert resolve(str(default)) == str(default)
    monkeypatch.setenv(var, str(chosen))
    assert resolve(str(default)) == str(chosen)
    assert resolve(str(default), str(default)) == str(default)


def test_empty_warmup_dir_turns_the_warmup_off(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_SF_DIR", "")
    assert resolve_warmup_sf_dir(str(tmp_path)) is None


@pytest.mark.parametrize("var, resolve, value", [
    ("SPARK_GRAFT_SF_DIR", resolve_sf_dir, ""),
    ("SPARK_GRAFT_SF_DIR", resolve_sf_dir, "nope"),
    ("SPARK_GRAFT_SF_DIR", resolve_sf_dir, "a_file"),
    ("SPARK_GRAFT_WARMUP_SF_DIR", resolve_warmup_sf_dir, "nope"),
    ("SPARK_GRAFT_WARMUP_SF_DIR", resolve_warmup_sf_dir, "a_file"),
])
def test_resolve_table_dirs_reject_invalid(monkeypatch, tmp_path, var, resolve, value):
    (tmp_path / "a_file").write_text("")
    monkeypatch.setenv(var, str(tmp_path / value) if value else "")
    with pytest.raises(ValueError, match=var):
        resolve(str(tmp_path))


# --- the class-data-sharing archive --------------------------------------


@pytest.fixture
def homes(tmp_path, monkeypatch):
    """A fake JDK and Spark home, the archive root under ``tmp_path``."""
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "conf").mkdir()
    (spark / "conf" / "spark-defaults.conf.template").write_text("")
    for name in ("a.jar", "b.jar"):
        (spark / "jars" / name).write_bytes(b"x" * 10)
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for var in session._CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(spark))
    monkeypatch.setattr(session, "_CDS_ROOT", str(tmp_path / "cds"))
    return types.SimpleNamespace(jdk=jdk, spark=spark, root=tmp_path / "cds")


def test_cds_key_tracks_jars_and_java_release(homes):
    java, spark = session._java(), str(homes.spark)
    jar = homes.spark / "jars" / "a.jar"
    base = session._cds_key(java, spark)
    assert session._cds_key(java, spark) == base

    st = jar.stat()
    jar.write_bytes(b"x" * 11)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert session._cds_key(java, spark) != base  # size
    jar.write_bytes(b"x" * 10)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert session._cds_key(java, spark) == base

    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert session._cds_key(java, spark) != base  # mtime
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert session._cds_key(java, spark) == base

    (homes.jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert session._cds_key(java, spark) != base


class _FakeBuilder:
    """Stands in for ``SparkSession.builder``: records the conf, and
    ``$SPARK_CONF_DIR`` as the launcher would see it."""

    def __init__(self):
        self.conf = {}
        self.conf_dir_at_launch = "unset"

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.conf_dir_at_launch = os.environ.get("SPARK_CONF_DIR")
        return types.SimpleNamespace(
            conf=types.SimpleNamespace(set=self.conf.__setitem__),
            sparkContext=types.SimpleNamespace(setLogLevel=lambda _: None,
                                               _gateway=_Py4jLikeGateway()),
        )


class _Py4jLikeGateway:
    """Like py4j's JavaGateway, answers any unknown attribute with a JVM member."""

    def __getattr__(self, name):
        return lambda *args: None


@pytest.fixture
def fake_launch(monkeypatch):
    """``get_spark`` as if no JVM were running yet, launching nothing."""
    builder = _FakeBuilder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "SparkContext", types.SimpleNamespace(_gateway=None))
    monkeypatch.setattr(session, "_cds_outcome", lambda spark, plan: plan.state if plan else "off")
    monkeypatch.setattr(session, "_cds_state", "off")  # this interpreter's real one is restored
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    return builder


def _assert_no_archive(builder, root) -> None:
    assert "spark.driver.defaultJavaOptions" not in builder.conf
    assert builder.conf_dir_at_launch is None
    assert builder.conf["spark.graft.cds"] == "off"
    assert not os.path.exists(root / "conf")


@pytest.mark.parametrize("started_by", ["gateway_port", "other_builder"])
def test_a_jvm_started_elsewhere_reports_off(homes, fake_launch, monkeypatch, started_by):
    if started_by == "gateway_port":  # spark-submit, the pyspark shell, notebooks
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    else:
        monkeypatch.setattr(session.SparkContext, "_gateway", _Py4jLikeGateway())
    session.get_spark()
    _assert_no_archive(fake_launch, homes.root)
    session.get_spark()
    assert fake_launch.conf["spark.graft.cds"] == "off"


def test_later_calls_report_the_launch_outcome(homes, fake_launch, monkeypatch):
    session.get_spark()
    assert fake_launch.conf["spark.graft.cds"] == "dumping"
    monkeypatch.setattr(session.SparkContext, "_gateway", _Py4jLikeGateway())
    del fake_launch.conf["spark.graft.cds"]
    session.get_spark()
    assert fake_launch.conf["spark.graft.cds"] == "dumping"


@pytest.mark.parametrize("root_is", ["world_writable", "group_writable", "another_users",
                                     "a_symlink"])
def test_a_root_others_can_write_gets_no_archive(homes, fake_launch, monkeypatch, tmp_path,
                                                 root_is):
    if root_is == "a_symlink":
        (tmp_path / "elsewhere").mkdir(mode=0o700)
        homes.root.symlink_to(tmp_path / "elsewhere")
    else:
        homes.root.mkdir(mode=0o700)
    if root_is == "world_writable":
        homes.root.chmod(0o1777)
    elif root_is == "group_writable":
        homes.root.chmod(0o770)
    elif root_is == "another_users":
        uid = homes.root.stat().st_uid
        monkeypatch.setattr(session.os, "getuid", lambda: uid + 1)
    session.get_spark()
    _assert_no_archive(fake_launch, homes.root)


def test_the_root_is_created_private(homes, fake_launch):
    session.get_spark()
    assert fake_launch.conf["spark.graft.cds"] == "dumping"
    assert homes.root.stat().st_mode & 0o077 == 0


@pytest.mark.parametrize("via_env", [False, True])
def test_user_conf_dir_disables_the_archive(homes, fake_launch, monkeypatch, tmp_path, via_env):
    conf = homes.spark / "conf"
    if via_env:
        conf = tmp_path / "myconf"
        conf.mkdir()
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    (conf / "spark-defaults.conf").write_text("spark.driver.cores 2\n")
    session.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Dx=1"})
    expected = str(conf) if via_env else None
    assert fake_launch.conf_dir_at_launch == expected
    assert os.environ.get("SPARK_CONF_DIR") == expected
    assert "spark.driver.defaultJavaOptions" not in fake_launch.conf
    assert fake_launch.conf["spark.driver.extraJavaOptions"] == "-Dx=1"
    assert fake_launch.conf["spark.graft.cds"] == "off"


def test_caller_java_options_keep_the_archive_flags(homes, fake_launch):
    session.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/w"})
    conf = fake_launch.conf
    assert conf["spark.driver.extraJavaOptions"] == "-Djava.io.tmpdir=/w"
    opts = conf["spark.driver.defaultJavaOptions"].split()
    candidate = [o for o in opts if o.startswith("-XX:ArchiveClassesAtExit=")]
    assert candidate == [f"-XX:ArchiveClassesAtExit={homes.root}/"
                         f"{session._cds_key(session._java(), str(homes.spark))}.jsa.{os.getpid()}"]
    assert "-Xlog:cds*=off" in opts
    assert conf["spark.graft.cds"] == "dumping"
    # the empty conf dir only while the JVM launches
    assert fake_launch.conf_dir_at_launch == str(homes.root / "conf")
    assert os.listdir(homes.root / "conf") == []
    assert "SPARK_CONF_DIR" not in os.environ


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _dump(java: str, classpath: str, path) -> None:
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={path}", "-Xlog:cds*=off", "-cp", classpath, "-version"],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    assert os.path.getsize(path) > 8192


@pytest.fixture
def real_java(tmp_path):
    java = session._java()
    if java is None:
        pytest.skip("no java")
    root = tmp_path / "root"
    (root / "conf").mkdir(parents=True)
    jars = tmp_path / "spark" / "jars"
    jars.mkdir(parents=True)
    return java, root, session._cds_classpath(str(root / "conf"), str(tmp_path / "spark"))


def test_publish_leaves_a_live_writers_candidate_alone(real_java):
    java, root, cp = real_java
    live = root / f"k.jsa.{os.getpid()}"
    live.write_bytes(b"\0" * 4096)  # junk: it would fail a probe
    archive = session._publish_cds(str(root), "k", java, cp, "1g")
    assert archive == str(root / "k.jsa")
    assert sorted(os.listdir(root)) == ["conf", live.name]


def test_publish_deletes_a_truncated_candidate_and_renames_a_good_one(real_java, tmp_path):
    java, root, cp = real_java
    good = tmp_path / "good.jsa"
    _dump(java, cp, good)
    truncated = root / f"k.jsa.{_dead_pid()}"
    with open(truncated, "wb") as out:
        subprocess.run(["head", "-c", str(good.stat().st_size // 2), str(good)],
                       stdout=out, check=True)
    session._publish_cds(str(root), "k", java, cp, "1g")
    assert sorted(os.listdir(root)) == ["conf"]  # deleted, never renamed

    candidate = root / f"k.jsa.{_dead_pid()}"
    os.rename(good, candidate)
    (root / "other.jsa").write_bytes(b"\0")  # another key's archive
    (root / f"other.jsa.{_dead_pid()}").write_bytes(b"\0")
    archive = session._publish_cds(str(root), "k", java, cp, "1g")
    assert sorted(os.listdir(root)) == ["conf", "k.jsa"]
    assert os.path.getsize(archive) > 8192


_START = """
import sys
from mape_calculation_and_anonymization_spark import session
session._CDS_ROOT = sys.argv[1]
spark = session.get_spark(app_name="cds", cpus=2)
print("RESULT", spark.conf.get("spark.graft.cds"), spark.range(10).count())
"""


def test_archive_lifecycle_in_a_fresh_interpreter(tmp_path):
    root = tmp_path / "cds"
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")

    def start() -> list[str]:
        out = subprocess.run([sys.executable, "-c", _START, str(root)], env=env, cwd=tmp_path,
                             capture_output=True, text=True, timeout=600)
        assert out.returncode == 0, out.stderr[-3000:]
        [line] = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT")]
        assert "[cds" not in out.stdout + out.stderr
        return line.split()[1:]

    assert start() == ["dumping", "10"]
    [candidate] = [n for n in os.listdir(root) if ".jsa." in n]
    key = candidate.partition(".jsa")[0]

    assert start() == ["mapped", "10"]
    assert sorted(os.listdir(root)) == sorted(["conf", f"{key}.jsa"])

    (root / f"{key}.jsa").write_bytes(os.urandom(4096))
    assert start() == ["off", "10"]
    assert os.listdir(root) == ["conf"]  # the junk is gone; the next start dumps
    assert not [n for n in os.listdir(tmp_path) if n.startswith("hs_err")]


def test_warm_cycle_recompiles_nothing(spark):
    """A second cycle over 80 distinct one-expression plans compiles no
    class again. Each plan generates 2 classes, so one cycle (160) is
    more than Spark's default 100-entry codegen cache holds; under that
    default the second cycle recompiled all 160 when run alone."""
    from pyspark.sql import functions as F

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def cycle() -> int:
        before = compiles.getCount()
        for i in range(80):
            spark.range(3).select(F.col("id") * F.lit(i) + F.lit(i)).collect()
        return compiles.getCount() - before

    assert cycle() >= 160  # the metric counts these plans' compiles
    assert cycle() == 0
