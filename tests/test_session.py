"""get_spark's class-data-sharing archive and its shipping of the package to
Python workers.

The ``_cds_plan`` tests are pure Python over a fake JDK, Spark install and
cache directory. The two subprocess tests launch fresh JVMs: the archive's
life cycle (dump, promotion, a truncated archive) and a Python UDF run from
a working directory outside the checkout with no ``PYTHONPATH``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from etl_pipeline_for_retail_sales_data_spark import session
from etl_pipeline_for_retail_sales_data_spark.session import _cds_key, _cds_plan, get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# environment that would make get_spark skip CDS or change its class path
_CDS_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS")


@pytest.fixture
def env(tmp_path):
    """A fake JDK and Spark install (templates-only conf dir) and a cache dir."""
    jdk = tmp_path / "jdk"
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"\0" * 8)
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "conf").mkdir()
    (spark / "conf" / "spark-defaults.conf.template").write_text("")
    (spark / "jars" / "spark-core.jar").write_bytes(b"core")
    return {"JAVA_HOME": str(jdk), "SPARK_HOME": str(spark), "XDG_CACHE_HOME": str(tmp_path / "cache"), "PATH": ""}


def _exited_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", ""])
    p.wait()
    return p.pid


def test_cds_plan_dumps_then_promotes_once_the_jvm_exits(env):
    cds = _cds_plan(env)
    assert cds is not None and cds.archive is None
    key_dir = os.path.dirname(cds.pid_file)
    assert key_dir == os.path.join(env["XDG_CACHE_HOME"], "spark-graft-cds", _cds_key(env["JAVA_HOME"], env["SPARK_HOME"]))
    assert cds.conf_dir == os.path.join(key_dir, "conf") and os.listdir(cds.conf_dir) == []
    dump = cds.pid_file[: -len(".pid")] + ".jsa"
    crash_log = f"-XX:ErrorFile={key_dir}/hs_err_pid%p.log"
    assert cds.java_options.split() == [f"-XX:ArchiveClassesAtExit={dump}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off", crash_log]
    with open(cds.pid_file) as f:
        assert f.read() == str(os.getpid())  # a running process: no promotion yet
    with open(dump, "wb") as f:
        f.write(session._DYNAMIC_MAGIC + b"classes")
    stale = os.path.join(env["XDG_CACHE_HOME"], "spark-graft-cds", "0123456789abcdef")
    os.makedirs(stale)
    open(os.path.join(stale, "classes.jsa"), "wb").close()

    assert _cds_plan(env) is None  # the first JVM still runs: no second dump
    assert os.path.isfile(dump) and os.path.isdir(stale)
    killed = os.path.join(key_dir, "dump-killed.pid")
    with open(killed[: -len(".pid")] + ".jsa", "wb") as f:
        f.write(b"\0" * 64)  # a JVM killed while dumping has not written the header yet

    for pid_file in (cds.pid_file, killed):
        with open(pid_file, "w") as f:
            f.write(str(_exited_pid()))
    third = _cds_plan(env)
    archive = os.path.join(key_dir, "classes.jsa")
    assert third.archive == archive and third.pid_file is None
    assert third.java_options.split() == [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off", crash_log]
    with open(archive, "rb") as f:
        assert f.read() == session._DYNAMIC_MAGIC + b"classes"
    assert sorted(os.listdir(key_dir)) == ["classes.jsa", "conf"]  # the bad dump and the pid files went
    assert not os.path.exists(stale)


def test_cds_plan_launches_without_cds_while_a_live_jvm_dumps(env):
    pending = _cds_plan(env).pid_file
    key_dir = os.path.dirname(pending)
    with open(pending, "w") as f:
        f.write(str(os.getppid()))  # a live process that is not this one
    before = sorted(os.listdir(key_dir))
    assert _cds_plan(env) is None
    assert sorted(os.listdir(key_dir)) == before  # nothing reserved, nothing promoted


def test_cds_plan_replaces_a_garbage_archive_with_a_new_dump(env):
    pid_file = _cds_plan(env).pid_file
    with open(pid_file, "w") as f:
        f.write(str(_exited_pid()))  # that JVM exited without dumping
    key_dir = os.path.dirname(pid_file)
    archive = os.path.join(key_dir, "classes.jsa")
    with open(archive, "wb") as f:
        f.write(os.urandom(4096))
    cds = _cds_plan(env)
    assert cds.archive is None and "-XX:ArchiveClassesAtExit=" in cds.java_options
    assert not os.path.exists(archive)


@pytest.mark.parametrize(
    "var, value",
    [
        ("SPARK_SUBMIT_OPTS", "-Xshare:off"),
        ("PYSPARK_SUBMIT_ARGS", "--driver-java-options '-XX:SharedArchiveFile=/a.jsa' pyspark-shell"),
        ("PYSPARK_SUBMIT_ARGS", "--conf spark.driver.extraJavaOptions=-XX:ArchiveClassesAtExit=/a.jsa pyspark-shell"),
        ("PYSPARK_SUBMIT_ARGS", "--conf spark.driver.defaultJavaOptions=-Xss4m pyspark-shell"),
        ("SPARK_CONF_DIR", "/etc/spark"),
        ("HADOOP_CONF_DIR", "/etc/hadoop"),
    ],
)
def test_cds_plan_skips_user_cds_choices(env, var, value):
    assert _cds_plan({**env, var: value}) is None
    assert not os.path.exists(env["XDG_CACHE_HOME"])


def test_cds_plan_works_alongside_other_driver_java_options(env):
    opts = "--driver-java-options '-Djava.io.tmpdir=/tmp -XX:-UsePerfData' pyspark-shell"
    assert _cds_plan({**env, "PYSPARK_SUBMIT_ARGS": opts, "SPARK_SUBMIT_OPTS": "-Dx=1"}) is not None


def test_cds_plan_skips_a_real_conf_dir(env):
    with open(os.path.join(env["SPARK_HOME"], "conf", "spark-defaults.conf"), "w") as f:
        f.write("spark.master local[2]\n")
    assert _cds_plan(env) is None


def test_cds_plan_skips_an_unwritable_cache(env, tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    assert _cds_plan({**env, "XDG_CACHE_HOME": str(blocker)}) is None


def test_cds_key_follows_the_install(env):
    key = _cds_key(env["JAVA_HOME"], env["SPARK_HOME"])
    assert key == _cds_key(env["JAVA_HOME"], env["SPARK_HOME"])
    jar = os.path.join(env["SPARK_HOME"], "jars", "extra.jar")
    with open(jar, "wb") as f:
        f.write(b"x")
    added = _cds_key(env["JAVA_HOME"], env["SPARK_HOME"])
    with open(jar, "wb") as f:
        f.write(b"xy")
    resized = _cds_key(env["JAVA_HOME"], env["SPARK_HOME"])
    with open(os.path.join(env["JAVA_HOME"], "release"), "a") as f:
        f.write('IMPLEMENTOR="other"\n')
    jdk = _cds_key(env["JAVA_HOME"], env["SPARK_HOME"])
    assert len({key, added, resized, jdk}) == 4


def test_get_spark_with_a_running_session_changes_nothing(spark, monkeypatch):
    def no_plan(environ):
        raise AssertionError("a running session must not plan a JVM launch")

    monkeypatch.setattr(session, "_cds_plan", no_plan)
    before = dict(os.environ)
    assert get_spark("engine-tests") is spark
    assert dict(os.environ) == before


def _run(script: str, cwd, env: dict) -> subprocess.CompletedProcess:
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out


_LIFECYCLE = """
    import glob, json, os, sys
    sys.path.insert(0, {root!r})
    from pyspark import SparkContext
    from etl_pipeline_for_retail_sales_data_spark.session import get_spark

    def cycle():
        spark = get_spark("cds-test")
        assert spark.range(5).count() == 5
        bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        args = [a for a in bean.getInputArguments() if "Archive" in a]
        spark.stop()  # stop the JVM and wait for it, so that a dump is complete
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        files = sorted(os.path.basename(p) for p in glob.glob(os.path.join({cache!r}, "spark-graft-cds", "*", "*.*")))
        print(json.dumps({{"args": args, "files": files}}), flush=True)

    cycle()  # dumps
    cycle()  # promotes, then maps the archive
    (archive,) = glob.glob(os.path.join({cache!r}, "spark-graft-cds", "*", "classes.jsa"))
    with open(archive, "r+b") as f:
        f.truncate(1 << 20)
    cycle()  # the JVM crashes on the truncated archive: deleted, relaunched without CDS
"""


def test_cds_archive_life_cycle_in_fresh_jvms(tmp_path):
    cache = str(tmp_path / "cache")
    env = {k: v for k, v in os.environ.items() if k not in _CDS_ENV and k != "PYTHONPATH"}
    env.update(XDG_CACHE_HOME=cache, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    out = _run(_LIFECYCLE.format(root=ROOT, cache=cache), tmp_path, env)
    dumped, shared, fallback = (json.loads(line) for line in out.stdout.splitlines() if line.startswith("{"))

    assert [a.split("=")[0] for a in dumped["args"]] == ["-XX:ArchiveClassesAtExit"]
    assert [f.split(".")[-1] for f in dumped["files"]] == ["jsa", "pid"]
    assert "classes.jsa" not in dumped["files"]

    assert [a.split("=")[0] for a in shared["args"]] == ["-XX:SharedArchiveFile"]
    assert shared["args"][0].endswith("/classes.jsa")
    assert shared["files"] == ["classes.jsa"]

    assert fallback["args"] == [] and fallback["files"] == []
    assert not list(tmp_path.glob("hs_err_pid*.log"))  # the crash logged under the cache, not in the cwd


def test_python_udf_workers_import_the_package_from_any_cwd(tmp_path):
    script = """
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import functions as F
        from etl_pipeline_for_retail_sales_data_spark.operators.jpeg import _category
        from etl_pipeline_for_retail_sales_data_spark.session import get_spark

        spark = get_spark("pythonpath-test")
        # _category pickles by reference, so each worker imports the package
        bits = F.udf(lambda v: _category(v), "int")
        print(sorted(r[0] for r in spark.range(-3, 4).select(bits("id")).collect()))
    """
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = _run(script.format(root=ROOT), tmp_path, env)
    assert out.stdout.strip().splitlines()[-1] == "[0, 1, 1, 2, 2, 2, 2]"
