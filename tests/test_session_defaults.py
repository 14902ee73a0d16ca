"""get_spark sizes the local session from the machine when the
environment names no core count or heap, and launches a new driver JVM with
the class-data archive flags of :mod:`jvm_archive`."""

import mmap
import os
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest
from pyspark import SparkContext

from datacontract_cli_spark import jvm_archive, session


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the conf and the
    environment each launch sees, starts no JVM. ``gateway`` stands in for
    the session's ``sparkContext._gateway``."""

    def __init__(self, gateway=None):
        self.conf = {}
        self.gateway = gateway
        self.launch_envs = []

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.launch_envs.append(dict(os.environ))
        return SimpleNamespace(sparkContext=SimpleNamespace(
            _gateway=self.gateway, setLogLevel=lambda _level: None))


def _session_conf(monkeypatch, builder=None, **kwargs):
    builder = builder or _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=builder))
    session.get_spark(**kwargs)
    return builder.conf


def test_defaults_from_machine_without_env(monkeypatch, fake_install):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20

    conf = _session_conf(monkeypatch)
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)
    heap_mb = int(conf["spark.driver.memory"].removesuffix("m"))
    assert heap_mb == max(1024, min(16 * 1024, phys_mb // 4))

    # a master without a core count takes its partitions from the machine
    conf = _session_conf(monkeypatch, master="local[*]")
    assert conf["spark.sql.shuffle.partitions"] == str(cores)


def test_env_overrides_machine_defaults(monkeypatch, fake_install):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    conf = _session_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "2g"


# ---------------------------------------------------------------------------
# class-data archive flags, decided before the JVM starts
# ---------------------------------------------------------------------------

@pytest.fixture
def fake_install(tmp_path, monkeypatch):
    """A Spark home with jars and a templates-only conf dir, a Java home
    with a base archive, an empty cache dir that an earlier process left,
    and no running gateway JVM."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "java"
    for d in ("jars", "conf"):
        (spark_home / d).mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").write_text("")
    (java_home / "lib" / "server").mkdir(parents=True)
    for name in ("libjvm.so", "classes.jsa"):
        (java_home / "lib" / "server" / name).write_bytes(b"jvm")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    (tmp_path / "cache" / "datacontract-cli-spark").mkdir(parents=True)
    for name in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", *jvm_archive._CLASSPATH_ENV):
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(jvm_archive, "state", None)
    return SimpleNamespace(spark_home=spark_home,
                           cache=tmp_path / "cache" / "datacontract-cli-spark")


def _archive(fake_install):
    return str(fake_install.cache / f"driver-{jvm_archive._key(str(fake_install.spark_home))}.jsa")


def _this_process():
    """A gateway whose JVM is this test process, so /proc/<pid>/maps is ours."""
    return SimpleNamespace(proc=SimpleNamespace(pid=os.getpid()))


def test_no_archive_dumps_one_to_a_temp_name(monkeypatch, fake_install):
    conf = _session_conf(monkeypatch)
    opts = conf["spark.driver.extraJavaOptions"]
    assert opts.startswith(session._JAVA_OPTIONS)
    assert f"-XX:ArchiveClassesAtExit={_archive(fake_install)}.{os.getpid()}.tmp" in opts
    assert "SharedArchiveFile" not in opts
    assert jvm_archive.state == "dumped"


def test_new_cache_is_created_without_a_dump(monkeypatch, fake_install):
    fake_install.cache.rmdir()
    builder = _RecordingBuilder()
    conf = _session_conf(monkeypatch, builder)
    assert conf["spark.driver.extraJavaOptions"] == session._JAVA_OPTIONS
    assert "SPARK_CONF_DIR" not in builder.launch_envs[0]
    assert jvm_archive.state == "skipped"
    assert os.listdir(fake_install.cache) == ["conf"]
    # the cache outlived that process: the next one dumps
    conf = _session_conf(monkeypatch)
    assert "ArchiveClassesAtExit" in conf["spark.driver.extraJavaOptions"]


def _mapped_archive(archive):
    """Write an archive and map it into this process (see _this_process)."""
    with open(archive, "wb") as f:
        f.write(jvm_archive._MAGIC + bytes(mmap.PAGESIZE))
    with open(archive, "rb") as f:
        return mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)


def test_archive_present_is_mapped(monkeypatch, fake_install):
    archive = _archive(fake_install)
    with _mapped_archive(archive):
        os.utime(archive, (1, 1))
        conf = _session_conf(monkeypatch, _RecordingBuilder(_this_process()))
    assert conf["spark.driver.extraJavaOptions"] == (
        f"{session._JAVA_OPTIONS} -XX:SharedArchiveFile={archive}")
    assert jvm_archive.state == "used"
    assert time.time() - os.path.getmtime(archive) < 60  # touched: in use


def test_archive_in_a_symlinked_cache_is_mapped(monkeypatch, fake_install, tmp_path):
    # /proc/<pid>/maps shows the canonical path, not the one through the link
    os.symlink(tmp_path / "cache", tmp_path / "cache-link")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache-link"))
    archive = _archive(fake_install)  # the canonical path
    with _mapped_archive(archive):
        conf = _session_conf(monkeypatch, _RecordingBuilder(_this_process()))
    assert f"-XX:SharedArchiveFile={archive}" in conf["spark.driver.extraJavaOptions"]
    assert jvm_archive.state == "used"
    assert os.path.exists(archive)


def test_archive_the_jvm_did_not_map_is_deleted(monkeypatch, fake_install):
    archive = _archive(fake_install)
    open(archive, "wb").close()
    _session_conf(monkeypatch, _RecordingBuilder(_this_process()))
    assert jvm_archive.state == "rejected"
    assert not os.path.exists(archive)
    # the next launch dumps a new one
    conf = _session_conf(monkeypatch)
    assert "ArchiveClassesAtExit" in conf["spark.driver.extraJavaOptions"]


class _FailingLaunch(_RecordingBuilder):
    """A launch that raises: only when given the archive, or always; with
    ``gateway_up`` after pyspark has set the gateway (the JVM came up)."""

    def __init__(self, only_with_archive, gateway_up=False):
        super().__init__()
        self.only_with_archive, self.gateway_up = only_with_archive, gateway_up
        self.launches = 0

    def getOrCreate(self):
        self.launches += 1
        if (not self.only_with_archive
                or "SharedArchiveFile" in self.conf["spark.driver.extraJavaOptions"]):
            if self.gateway_up:
                SparkContext._gateway = object()
            raise RuntimeError("launch failed")
        return super().getOrCreate()


def test_jvm_that_dies_on_its_archive_is_relaunched_dumping(monkeypatch, fake_install):
    archive = _archive(fake_install)
    open(archive, "wb").close()
    conf = _session_conf(monkeypatch, _FailingLaunch(only_with_archive=True))
    assert "ArchiveClassesAtExit" in conf["spark.driver.extraJavaOptions"]
    assert jvm_archive.state == "dumped"
    assert not os.path.exists(archive)


@pytest.mark.parametrize("only_with_archive,gateway_up,launches", [
    (True, True, 1),    # the JVM came up, then the session failed
    (False, False, 2),  # the relaunch without the archive fails too
])
def test_failure_that_is_not_the_archives_keeps_it(monkeypatch, fake_install,
                                                   only_with_archive, gateway_up, launches):
    archive = _archive(fake_install)
    open(archive, "wb").close()
    builder = _FailingLaunch(only_with_archive, gateway_up)
    with pytest.raises(RuntimeError, match="launch failed"):
        _session_conf(monkeypatch, builder)
    assert builder.launches == launches
    assert os.path.exists(archive)


def test_templates_only_conf_dir_is_swapped_for_the_launch(monkeypatch, fake_install):
    before = dict(os.environ)
    builder = _RecordingBuilder()
    _session_conf(monkeypatch, builder)
    launch_conf = builder.launch_envs[0]["SPARK_CONF_DIR"]
    assert launch_conf == str(fake_install.cache / "conf")
    assert os.listdir(launch_conf) == []
    assert dict(os.environ) == before

    # a caller's own templates-only conf dir is swapped too, then restored
    monkeypatch.setenv("SPARK_CONF_DIR", str(fake_install.spark_home / "conf"))
    before = dict(os.environ)
    builder = _RecordingBuilder()
    _session_conf(monkeypatch, builder)
    assert builder.launch_envs[0]["SPARK_CONF_DIR"] == launch_conf
    assert dict(os.environ) == before


def test_conf_dir_with_spark_defaults_is_skipped(monkeypatch, fake_install):
    (fake_install.spark_home / "conf" / "spark-defaults.conf").write_text(
        "spark.eventLog.enabled true\n")
    before = dict(os.environ)
    builder = _RecordingBuilder()
    conf = _session_conf(monkeypatch, builder)
    assert conf["spark.driver.extraJavaOptions"] == session._JAVA_OPTIONS
    assert jvm_archive.state == "skipped"
    assert "SPARK_CONF_DIR" not in builder.launch_envs[0]
    assert dict(os.environ) == before


def test_callers_driver_java_options_win(monkeypatch, fake_install):
    conf = _session_conf(monkeypatch, extra_conf={
        "spark.driver.extraJavaOptions": "-Dmine=1"})
    assert conf["spark.driver.extraJavaOptions"] == "-Dmine=1"
    assert jvm_archive.state == "skipped"


def test_running_gateway_gets_no_new_launch(monkeypatch, fake_install):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    conf = _session_conf(monkeypatch)
    assert conf["spark.driver.extraJavaOptions"] == session._JAVA_OPTIONS
    assert jvm_archive.state is None


@pytest.mark.parametrize("returncode,header,published", [
    (0, jvm_archive._MAGIC, True),
    (None, jvm_archive._MAGIC, True),  # a detached publisher: exit code unknown
    (1, jvm_archive._MAGIC, False),    # the JVM failed its dump
    (0, bytes(4), False),              # cut off before the header was written
])
def test_publish_renames_only_a_complete_dump(tmp_path, returncode, header, published):
    archive, dump_to = str(tmp_path / "a.jsa"), str(tmp_path / "a.jsa.1.tmp")
    with open(dump_to, "wb") as f:
        f.write(header + b"regions")
    jvm_archive.publish(returncode, dump_to, archive)
    assert os.path.exists(archive) == published
    assert not os.path.exists(dump_to)


def test_exit_does_not_wait_for_the_dump(monkeypatch, tmp_path):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    archive, dump_to = str(tmp_path / "a.jsa"), str(tmp_path / "a.jsa.1.tmp")
    jvm = subprocess.Popen(  # like the JVM: dumps once its stdin closes, then exits
        [sys.executable, "-c", "import sys, time; sys.stdin.read(); time.sleep(1); "
         f"open({dump_to!r}, 'wb').write({jvm_archive._MAGIC!r} + b'regions')"],
        stdin=subprocess.PIPE)
    started = time.monotonic()
    jvm_archive._publish_at_exit(jvm, dump_to, archive)
    assert time.monotonic() - started < 1
    assert jvm.returncode is None
    deadline = time.monotonic() + 30
    while not os.path.exists(archive) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert (tmp_path / "a.jsa").read_bytes() == jvm_archive._MAGIC + b"regions"
    assert not os.path.exists(dump_to)
    jvm.wait()


def test_leftovers_are_removed(monkeypatch, fake_install):
    archive = _archive(fake_install)
    ended = [subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                            capture_output=True, text=True).stdout.strip() for _ in range(2)]
    stale, dumping, live = (f"{archive}.{ended[0]}.tmp", f"{archive}.{ended[1]}.tmp",
                            f"{archive}.{os.getppid()}.tmp")
    unused, other = fake_install.cache / "driver-0ld.jsa", fake_install.cache / "driver-0ther.jsa"
    month_ago = time.time() - 31 * 24 * 3600
    for path in (stale, dumping, live, unused, other):
        open(path, "wb").close()
    for path in (stale, live, unused):
        os.utime(path, (month_ago, month_ago))
    _session_conf(monkeypatch)
    assert not os.path.exists(stale)   # its process ended long ago
    assert os.path.exists(dumping)     # its process ended, its JVM may still dump
    assert os.path.exists(live)        # its process runs
    assert not os.path.exists(unused)  # another key's, unused for a month
    assert os.path.exists(other)       # another key's, in use
