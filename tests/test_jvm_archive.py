"""The driver JVM's class-data archive, end to end in fresh processes: the
first run only creates the cache, the second dumps the archive at exit
without touching ``--json`` stdout, the next maps it, and two runs dumping
at once publish an archive that the JVM accepts. The flag decisions
themselves are covered without a JVM in test_session_defaults.py."""

import glob
import json
import os
import shutil
import subprocess
import sys
import time

from datacontract_cli_spark import jvm_archive

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(REPO, "tests", "fixtures", "orders_diag")

# the real CLI, with the package logger at INFO on stderr so the archive
# state is visible
_CLI = ("import logging, runpy, sys; logging.basicConfig(level=logging.INFO); "
        "sys.argv = ['dcspark'] + sys.argv[1:]; "
        "runpy.run_module('datacontract_cli_spark', run_name='__main__')")
_SESSION = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from datacontract_cli_spark import jvm_archive, session; "
            "session.get_spark('archive-test', master='local[1]'); "
            "print(jvm_archive.state)")


def _env(tmp_path):
    """A fresh archive cache and an empty Spark conf dir."""
    (tmp_path / "spark-conf").mkdir(exist_ok=True)
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"),
               SPARK_CONF_DIR=str(tmp_path / "spark-conf"),
               SPARK_DRIVER_MEMORY="1g", PYTHONPATH=REPO)
    for name in (*jvm_archive._CLASSPATH_ENV, "PYSPARK_GATEWAY_PORT"):
        env.pop(name, None)
    return env


def _ci(tmp_path, contract):
    proc = subprocess.run(
        [sys.executable, "-c", _CLI, "ci", contract, "--master", "local[2]", "--json"],
        capture_output=True, text=True, cwd=tmp_path, timeout=300, env=_env(tmp_path))
    assert proc.returncode == 1, proc.stdout + proc.stderr  # the fixture has violations
    return json.loads(proc.stdout), proc.stderr


def _published(cache):
    """The archive, once the detached publishers have renamed every dump."""
    deadline = time.monotonic() + 120
    while (glob.glob(str(cache / "*.tmp")) or not glob.glob(str(cache / "*.jsa"))) \
            and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not glob.glob(str(cache / "*.tmp"))
    return glob.glob(str(cache / "driver-*.jsa"))


def _stable(obj):
    """Run JSON without its ids and timestamps."""
    if isinstance(obj, dict):
        return {k: _stable(v) for k, v in obj.items()
                if k not in ("id", "runId") and not k.startswith("timestamp")}
    if isinstance(obj, list):
        return [_stable(v) for v in obj]
    return obj


def test_archive_is_dumped_then_mapped_and_concurrent_dumps_publish_a_valid_one(tmp_path):
    shutil.copy(os.path.join(FIXTURE, "orders.csv"), tmp_path / "orders.csv")
    contract = tmp_path / "contract.yaml"
    contract.write_text(open(os.path.join(FIXTURE, "datacontract.yaml")).read()
                        .replace("{dir}", str(tmp_path))
                        .replace("orders.csv", "{model}.csv"))
    cache = tmp_path / "cache" / "datacontract-cli-spark"
    session = [sys.executable, "-c", _SESSION, REPO]

    def _session():
        return subprocess.run(session, capture_output=True, text=True, cwd=tmp_path,
                              timeout=300, env=_env(tmp_path)).stdout.split()[-1]

    assert _session() == "skipped"
    assert os.listdir(cache) == ["conf"]

    first, err = _ci(tmp_path, str(contract))
    assert "class archive dumped" in err
    [archive] = _published(cache)

    second, err = _ci(tmp_path, str(contract))
    assert "class archive used" in err
    assert _stable(second) == _stable(first)

    os.remove(archive)
    dumpers = [subprocess.Popen(session, stdout=subprocess.PIPE, text=True,
                                cwd=tmp_path, env=_env(tmp_path)) for _ in range(2)]
    for p in dumpers:
        out, _ = p.communicate(timeout=300)
        assert (p.returncode, out.split()[-1]) == (0, "dumped")
    assert _published(cache) == [archive]
    assert _session() == "used"
