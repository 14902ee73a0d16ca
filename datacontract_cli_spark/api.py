"""Drop-in style facade: the reference's primary Python entry point is
``DataContract(data_contract_file=..., spark=session).test()``
(datacontract/data_contract.py:26-72,143). This facade gives users of the
reference CLI the same call shape on top of the Spark engine.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.model.run import Run
from datacontract_cli_spark.output import writers


class DataContractRunner:
    """Reference-shaped facade (named to avoid clashing with the contract
    dataclass; ``from datacontract_cli_spark.api import DataContractRunner
    as DataContract`` gives the literal reference name)."""

    def __init__(
        self,
        data_contract_file: Optional[str] = None,
        data_contract_str: Optional[str] = None,
        spark: Optional[SparkSession] = None,
        server: Optional[str] = None,
        schema_name: str = "all",
        include_failed_samples: bool = False,
        filter: Optional[str] = None,  # noqa: A002 — reference arg name
        tables: Optional[Dict[str, DataFrame]] = None,
        publish_url: Optional[str] = None,
        api_key: Optional[str] = None,
    ):
        if data_contract_file is None and data_contract_str is None:
            raise ValueError("provide data_contract_file or data_contract_str")
        if data_contract_file is not None:
            with open(data_contract_file, "r", encoding="utf-8") as f:
                self.contract_source: Optional[str] = f.read()
        else:
            self.contract_source = data_contract_str
        self.contract = load_contract_str(self.contract_source)
        if spark is None:
            from datacontract_cli_spark.session import get_spark
            spark = get_spark()
        self.spark = spark
        self.server = server
        self.schema_name = schema_name
        self.include_failed_samples = include_failed_samples
        self.filters: Optional[List[str]] = [filter] if filter else None
        self.tables = tables
        self.publish_url = publish_url
        self.api_key = api_key

    def test(self) -> Run:
        engine = SparkContractEngine(
            self.spark, include_failed_samples=self.include_failed_samples
        )
        tables = self.tables
        if tables is None and self.contract.server(self.server) is None:
            # dataframe-style usage: models must exist as temp views
            tables = {
                obj.table: self.spark.table(obj.table)
                for obj in self.contract.schema_objects
            }
        run = engine.test(
            self.contract,
            tables=tables,
            server=self.server,
            schema_name=self.schema_name,
            filters=self.filters,
        )
        # reference Run lifecycle: publish results when a URL is configured
        # (data_contract.py:201-203) — publish failure never fails the test
        if self.publish_url is not None:
            from datacontract_cli_spark.output.publish import publish_test_results
            publish_test_results(run, self.publish_url, api_key=self.api_key)
        return run

    def lint(self) -> List[str]:
        """Document-level problems: JSON-Schema validation of the contract
        itself (reference lint/resolve.py:441-466) plus structural warnings."""
        problems: List[str] = []
        source = getattr(self, "contract_source", None)
        if source is not None:
            from datacontract_cli_spark.model.lint import lint_str
            problems.extend(lint_str(source))
        if not self.contract.schema_objects:
            problems.append("contract has no schema objects")
        for obj in self.contract.schema_objects:
            if not obj.properties:
                problems.append(f"schema object '{obj.name}' has no properties")
        return problems

    @staticmethod
    def pretty(run: Run) -> str:
        return writers.console_table(run)


# ---------------------------------------------------------------------------
# REST API entry point (reference: datacontract/api.py — FastAPI app with
# POST /test, /lint, /changelog, /export). FastAPI is not in this image, so
# the same surface is served by a stdlib http.server handler:
#
# - POST /lint       body: contract YAML -> {"result", "checks": [messages]}
# - POST /export?format=X[&schema=...]  body: contract YAML -> exported text
# - POST /changelog  body: {"v1": yaml, "v2": yaml} -> {"summary", "entries"}
# - POST /test[?server=...&schema=...]  body: contract YAML -> the Run as
#   JSON. The SparkSession is created lazily on the first /test call and
#   reused. Request bodies are size-capped; unknown paths return 404;
#   handler errors return 400 — the server never dies on a bad contract.
# ---------------------------------------------------------------------------



import contextlib
import json
import os
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer, ThreadingHTTPServer
from typing import Dict, Optional
from urllib.parse import parse_qs, urlparse

_MAX_BODY = 16 * 1024 * 1024

# per-request credential pass-through (reference api.py config_from_headers:
# header names map mechanically to env var names — uppercase, dashes to
# underscores: `datacontract-api-key` -> DATACONTRACT_API_KEY)
_CONFIG_HEADER_PREFIX = "datacontract-"
_LOCAL_HOSTS = frozenset(("localhost", "127.0.0.1", "::1", "[::1]"))
_env_lock = threading.Lock()


def config_from_headers(headers) -> Dict[str, str]:
    """{ENV_NAME: value} for every ``datacontract-*`` request header."""
    out: Dict[str, str] = {}
    for name in headers.keys():
        if name.lower().startswith(_CONFIG_HEADER_PREFIX):
            out[name.upper().replace("-", "_")] = headers[name]
    return out


@contextlib.contextmanager
def _scoped_env(overrides: Dict[str, str]):
    """Apply env overrides for the duration of one request, restoring the
    prior values after — so header-scoped credentials are visible to the
    engine's env lookups but never outlive the request. Serialized by a
    lock (the threaded local server shares one process env)."""
    if not overrides:
        yield
        return
    with _env_lock:
        saved = {k: os.environ.get(k) for k in overrides}
        os.environ.update(overrides)
        try:
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v


class _ApiState:
    def __init__(self, master: Optional[str] = None):
        self.master = master
        self._spark = None
        self._lock = threading.Lock()

    def spark(self):
        with self._lock:
            if self._spark is None:
                from datacontract_cli_spark.session import get_spark
                self._spark = get_spark("datacontract-api", master=self.master)
            return self._spark


def _export_text(contract, fmt: str, schema_name: str) -> str:
    # same dispatch as the CLI — one registry, no drift between surfaces
    from datacontract_cli_spark.export_registry import export_contract
    return export_contract(contract, fmt, schema_name=schema_name)


def make_handler(state: _ApiState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet by default (also keeps
            pass                       # header-borne credentials out of logs)

        def _guard(self) -> bool:
            """DNS-rebinding / CSRF guard for the loopback-bound server:
            reject requests whose Host isn't localhost and cross-site
            requests carrying a non-local Origin. Servers explicitly bound
            to a non-loopback interface are exempt (operator's choice)."""
            bind = self.server.server_address[0]
            if bind not in ("127.0.0.1", "::1", "localhost"):
                return True
            host = (self.headers.get("Host") or "").strip()
            hostname = host.rsplit(":", 1)[0] if not host.startswith("[") \
                else host.split("]")[0] + "]"
            if hostname not in _LOCAL_HOSTS:
                self._reply(403, json.dumps(
                    {"error": "forbidden: non-local Host header"}))
                return False
            origin = self.headers.get("Origin")
            if origin and origin != "null":
                ohost = urlparse(origin).hostname
                if ohost not in _LOCAL_HOSTS:
                    self._reply(403, json.dumps(
                        {"error": "forbidden: cross-site request"}))
                    return False
            return True

        def _reply(self, status: int, body: str,
                   content_type: str = "application/json") -> None:
            data = body.encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _body(self) -> str:
            length = int(self.headers.get("Content-Length", 0))
            if length > _MAX_BODY:
                raise ValueError("request body too large")
            return self.rfile.read(length).decode("utf-8")

        def do_POST(self):  # noqa: N802 — http.server API
            from datacontract_cli_spark.model.contract import load_contract_str

            if not self._guard():
                return
            url = urlparse(self.path)
            params = {k: v[0] for k, v in parse_qs(url.query).items()}
            try:
                if url.path == "/lint":
                    from datacontract_cli_spark.model.lint import lint_str
                    errors = lint_str(self._body())
                    self._reply(200, json.dumps({
                        "result": "failed" if errors else "passed",
                        "checks": errors,
                    }))
                elif url.path == "/export":
                    contract = load_contract_str(self._body())
                    fmt = params.get("format", "odcs")
                    text = _export_text(contract, fmt,
                                        params.get("schema", "all"))
                    self._reply(200, text, content_type="text/plain; charset=utf-8")
                elif url.path == "/changelog":
                    from datacontract_cli_spark.changelog import diff_contracts
                    import yaml as _yaml
                    payload = json.loads(self._body())
                    result = diff_contracts(_yaml.safe_load(payload["v1"]),
                                            _yaml.safe_load(payload["v2"]))
                    self._reply(200, json.dumps({
                        "summary": [{"path": e.path, "changeType": e.type.value}
                                    for e in result.summary],
                        "entries": [{"path": e.path, "changeType": e.type.value,
                                     "old_value": e.old_value,
                                     "new_value": e.new_value}
                                    for e in result.entries],
                    }, default=str))
                elif url.path == "/test":
                    from datacontract_cli_spark.engine.executor import SparkContractEngine
                    contract = load_contract_str(self._body())
                    engine = SparkContractEngine(
                        state.spark(),
                        include_failed_samples=params.get(
                            "include_failed_samples", "") == "true")
                    # datacontract-* headers become request-scoped env
                    # credentials (reference api.py config_from_headers)
                    with _scoped_env(config_from_headers(self.headers)):
                        run = engine.test(contract,
                                          server=params.get("server"),
                                          schema_name=params.get("schema", "all"))
                    self._reply(200, run.to_json())
                else:
                    self._reply(404, json.dumps({"error": "not found"}))
            except Exception as e:  # bad contract/request — never kill the server
                self._reply(400, json.dumps({"error": str(e)}))

    return Handler


def serve(host: str = "127.0.0.1", port: int = 4242,
          master: Optional[str] = None, threaded: bool = True) -> HTTPServer:
    """Build the server (call ``serve_forever`` yourself, or use
    :func:`main` for the blocking CLI entry)."""
    cls = ThreadingHTTPServer if threaded else HTTPServer
    return cls((host, port), make_handler(_ApiState(master=master)))


def main(host: str = "127.0.0.1", port: int = 4242,
         master: Optional[str] = None) -> None:
    server = serve(host, port, master)
    print(f"datacontract api listening on http://{host}:{server.server_port}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()
