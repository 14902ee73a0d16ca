"""Dynamic class-data sharing (JEP 350) for the Spark driver JVM.

A fresh driver JVM spends most of its start loading and verifying Spark's
and Catalyst's classes. JDK 17 can map those classes from an archive that an
earlier JVM wrote at exit, so :func:`start` launches each driver in one of
four archive states:

- ``used``: a valid archive exists; the JVM maps it
  (``-XX:SharedArchiveFile``);
- ``dumped``: no archive exists yet; this JVM writes the classes it loaded
  to a temp file at exit (``-XX:ArchiveClassesAtExit``). The process does
  not wait for that: a detached child waits for the JVM to end and, when
  the file is complete, publishes it with an atomic rename, so no partial
  archive ever sits at the final path and concurrent first runs are safe;
- ``rejected``: the JVM did not map the archive it was given
  (``-Xshare:auto`` falls back silently). The archive is deleted, so the
  next run dumps a new one;
- ``skipped``: no archive flags. The launch is not this package's to shape:
  the caller sets its own driver Java options or class path, a gateway
  JVM already exists, or the Spark conf dir holds files Spark reads. The
  JVM refuses a non-empty directory on the class path, and the conf dir
  is on it; a conf dir holding only ``*.template`` files is swapped for an
  empty one for the launch. A process that finds no cache directory also
  launches plain and only creates it: a dumping JVM takes ~5 s longer to
  start and run its first query, which pays off only if the cache outlives
  the process (not so in a throwaway home or CI runner), so the first dump
  waits for a cache that an earlier process left.

The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/datacontract-cli-spark/``
and is keyed on the Java runtime (``libjvm.so`` and its base archive) and
the Spark jar set (names, sizes, mtimes). Each launch that maps it touches
its mtime; archives of other keys (an older JDK or Spark) unused for 30
days are deleted. Deleting that directory drops them all.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

logger = logging.getLogger(__name__)

# First bytes of a dynamic archive: its header magic 0xf00baba8, little
# endian. The JVM writes the header after every region, so a dump cut off
# mid-write starts with zeros.
_MAGIC = b"\xa8\xab\x0b\xf0"
# Each of these adds a class-path entry that the archive would not match.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_CALLER_CONF = ("spark.driver.extraJavaOptions", "spark.driver.extraClassPath")
_DUMP_WAIT_S = 120
_UNUSED_S = 30 * 24 * 3600

# Archive state of the driver JVM this process launched (None before a launch).
state: str | None = None


@dataclass(frozen=True)
class _Launch:
    state: str
    flags: str = ""
    conf_dir: str | None = None
    archive: str | None = None
    dump_to: str | None = None


def start(builder, java_options: str, extra_conf: dict):
    """``builder.getOrCreate()``, launching a new driver JVM with this
    archive's flags appended to ``java_options``."""
    global state
    from pyspark import SparkContext

    if SparkContext._gateway is not None:  # the JVM is up: its launch set the state
        return builder.getOrCreate()
    launch = _plan(extra_conf)
    try:
        spark = _launch(builder, java_options, launch)
    except Exception:
        if launch.state != "used" or SparkContext._gateway is not None:
            raise  # the JVM came up: the failure is not the archive's
        # a JVM that dies mapping its archive (a truncated one does) gets
        # one relaunch that dumps a fresh one; if that JVM comes up, the
        # archive was at fault
        archive = launch.archive
        launch = _plan(extra_conf, use_archive=False)
        spark = _launch(builder, java_options, launch)
        _remove(archive)
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    state = launch.state
    if state == "used" and not _maps(proc, launch.archive):
        _remove(launch.archive)
        state = "rejected"
    elif state == "used":
        with contextlib.suppress(OSError):
            os.utime(launch.archive)  # in use: not for _remove_leftovers
    elif state == "dumped" and proc is not None:
        atexit.register(_publish_at_exit, proc, launch.dump_to, launch.archive)
    logger.info("driver JVM class archive %s: %s", state, launch.archive or "-")
    return spark


def _plan(extra_conf: dict, use_archive: bool = True) -> _Launch:
    """The archive flags and conf dir for a new driver JVM."""
    from pyspark.find_spark_home import _find_spark_home

    if ("PYSPARK_GATEWAY_PORT" in os.environ
            or any(k in extra_conf for k in _CALLER_CONF)
            or any(os.environ.get(v) for v in _CLASSPATH_ENV)):
        return _Launch("skipped")
    spark_home = _find_spark_home()
    try:
        if _holds_conf(os.environ.get("SPARK_CONF_DIR")
                       or os.path.join(spark_home, "conf")):
            return _Launch("skipped")
        # canonical, as the kernel writes the archive's path in /proc/<pid>/maps
        cache = os.path.realpath(os.path.join(os.environ.get("XDG_CACHE_HOME")
                                              or os.path.expanduser("~/.cache"),
                                              "datacontract-cli-spark"))
        new_cache = not os.path.isdir(cache)
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        key = _key(spark_home)
    except OSError:
        return _Launch("skipped")
    if key is None or new_cache:
        return _Launch("skipped")
    archive = os.path.join(cache, f"driver-{key}.jsa")
    _remove_leftovers(archive)
    if use_archive and os.path.isfile(archive):
        return _Launch("used", f"-XX:SharedArchiveFile={archive}", conf_dir, archive)
    dump_to = f"{archive}.{os.getpid()}.tmp"
    return _Launch("dumped", f"-XX:ArchiveClassesAtExit={dump_to}", conf_dir,
                  archive, dump_to)


def publish(returncode: int | None, dump_to: str, archive: str) -> None:
    """Rename the dump of a JVM that has ended to ``archive`` if the file is
    complete and the JVM exited 0 (``returncode`` None: not known); else
    delete it."""
    try:
        with open(dump_to, "rb") as f:
            complete = f.read(len(_MAGIC)) == _MAGIC
        if complete and returncode in (0, None):
            os.replace(dump_to, archive)
            logger.info("driver JVM class archive published: %s", archive)
            return
    except OSError:
        pass
    _remove(dump_to)


def _publish_at_exit(proc, dump_to: str, archive: str) -> None:
    """At interpreter exit: end the driver JVM (it exits, and dumps, when its
    stdin closes) and leave :func:`publish` to a detached child, so this
    process need not wait for the dump. The active context is stopped
    first: its accumulator server would otherwise print an EOFError when
    the JVM leaves first."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        with contextlib.suppress(Exception):
            SparkContext._active_spark_context.stop()
    if proc.poll() is not None:  # the caller has already ended the JVM
        publish(proc.returncode, dump_to, archive)
        return
    if proc.stdin:
        proc.stdin.close()
    # -I: the package dir must not shadow the standard library. Without a
    # publisher the dump stays behind until _remove_leftovers.
    with contextlib.suppress(OSError):
        subprocess.Popen([sys.executable, "-I", os.path.abspath(__file__),
                          str(proc.pid), dump_to, archive],
                         stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL, start_new_session=True)


def _publish_when_ended(pid: int, dump_to: str, archive: str) -> None:
    """In the detached child: wait for JVM ``pid`` (not our child, so its
    exit code is not known) to end, then publish its dump."""
    deadline = time.monotonic() + _DUMP_WAIT_S
    while _alive(pid):
        if time.monotonic() > deadline:
            _remove(dump_to)
            return
        time.sleep(0.1)
    publish(None, dump_to, archive)


def _launch(builder, java_options: str, launch: _Launch):
    if launch.state == "skipped":
        return builder.getOrCreate()
    builder.config("spark.driver.extraJavaOptions", f"{java_options} {launch.flags}")
    with _env("SPARK_CONF_DIR", launch.conf_dir):
        return builder.getOrCreate()


@contextlib.contextmanager
def _env(name: str, value: str):
    """``os.environ[name] = value`` for the block only."""
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = old


def _holds_conf(conf_dir: str) -> bool:
    """Whether Spark reads anything in ``conf_dir`` (templates it ignores)."""
    try:
        return any(not n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return False


def _key(spark_home: str) -> str | None:
    """Hash of the Java runtime the launcher runs and the Spark jar set;
    None when the runtime has no base archive to build on."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    server = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(java))),
                          "lib", "server")
    base = os.path.join(server, "classes.jsa")
    if not os.path.isfile(base):
        return None
    parts = [f"{p}:{st.st_size}:{st.st_mtime_ns}"
             for p in (os.path.join(server, "libjvm.so"), base)
             for st in [os.stat(p)]]
    parts += sorted(f"{e.name}:{st.st_size}:{st.st_mtime_ns}"
                    for e in os.scandir(os.path.join(spark_home, "jars"))
                    for st in [e.stat()])
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _maps(proc, path: str) -> bool:
    """Whether the JVM process ``proc`` has ``path`` mapped (True when that
    cannot be read, e.g. without /proc)."""
    try:
        with open(f"/proc/{proc.pid}/maps") as f:
            return path in f.read()
    except (AttributeError, OSError):
        return True


def _remove_leftovers(archive: str) -> None:
    """Delete, next to ``archive``, dumps that no one will publish (their
    process has ended and they are older than a publisher waits) and
    archives of other keys unused for ``_UNUSED_S``."""
    now = time.time()
    for path in glob.glob(os.path.join(glob.escape(os.path.dirname(archive)), "driver-*")):
        try:
            age = now - os.stat(path).st_mtime
        except OSError:
            continue
        if path.endswith(".tmp"):
            pid = path[:-len(".tmp")].rpartition(".")[2]
            if age > _DUMP_WAIT_S and pid.isdigit() and not _alive(int(pid)):
                _remove(path)
        elif path != archive and age > _UNUSED_S:
            _remove(path)


def _alive(pid: int) -> bool:
    """Whether process ``pid`` runs (a zombie has ended)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    with contextlib.suppress(OSError), open(f"/proc/{pid}/stat") as f:
        return f.read().rpartition(")")[2].split()[0] != "Z"
    return True


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


if __name__ == "__main__":
    _publish_when_ended(int(sys.argv[1]), sys.argv[2], sys.argv[3])
