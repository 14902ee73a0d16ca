"""The three workloads. Each is closed-loop with one client: the next
operation starts when the previous one has returned and been checked.

- ``validate_transcripts``: warm ``SparkContractEngine.test`` calls (each
  with contract load and JSON report) on a transcripts table with the
  north-star suite plus drift and referential-integrity rules. Execution
  dominates.
- ``cli_wide``: one fresh ``python -m datacontract_cli_spark test`` process
  per operation on a 199-check contract over a small clean table. Session
  start, contract load, compile and cold Catalyst analysis dominate.
- ``curate_docs``: ``pipeline.curate_corpus`` plus a parquet write over the
  sf0.1 documents table. The operator library, Python/Arrow workers and
  the write path do the work.

Every workload reports the same end-to-end metrics: ``op_s`` (median
operation wall time), ``cold_op_s`` (the first operation in a fresh
session), ``setup_s`` and ``peak_rss_mb``.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench import inputs, trace
from perfbench.common import WORK, ROOT, TreeRss, master, nproc, stop_children

CLI_TIMEOUT_S = 150


@dataclass
class Ctx:
    seed: int
    seconds: float
    traced: bool
    proc_start: float
    excluded_s: float = 0.0  # benchmark-only work since process start
    untimed: list = field(default_factory=list)  # (step, seconds)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def untimed_step(self, step: str, seconds: float) -> None:
        self.untimed.append((step, round(seconds, 4)))

    def setup_s(self) -> float:
        """Process start until now, less the benchmark's own bookkeeping
        (machine readings) and on-disk input generation."""
        return time.perf_counter() - self.proc_start - self.excluded_s

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def _gc_fence(ctx: Ctx, spark) -> None:
    """Full GC in the driver JVM and the Python process between operations,
    so one operation's garbage is not collected inside the next one."""
    t0 = time.perf_counter()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    ctx.untimed_step("gc_fence", time.perf_counter() - t0)


def _session(name: str):
    from datacontract_cli_spark.session import get_spark
    return get_spark(f"perfbench-{name}", master=master())


# ---------------------------------------------------------------------------
# in-process Spark workloads
# ---------------------------------------------------------------------------

class Validate:
    name = "validate_transcripts"
    lanes = {"agg+uniqueness": "overlapped flat agg and keys-only groupBy",
             "quantileDriftKs": "t-digest mapInPandas (quantiles baseline)",
             "quantile": "percentile_approx in the flat agg",
             "referentialIntegrity": "left_anti join, AQE-chosen strategy",
             "samples": "batched TakeOrdered union"}

    def __init__(self, seed: int):
        t0 = time.perf_counter()
        self.dir, self.ref = inputs.transcripts(seed)
        self.gen_s = time.perf_counter() - t0
        self.contract_path = inputs.transcripts_contract(self.dir, self.ref)
        self.items = self.ref["rows"]
        counts = self.ref["counts"]
        self.expected_failed = {k for k, v in counts.items()
                                if v > 0 and k != "transcripts__row_count"}

    def bind(self, spark) -> None:
        from pyspark.sql import functions as F

        from datacontract_cli_spark import SparkContractEngine

        df = spark.read.parquet(os.path.join(self.dir, "transcripts.parquet"))
        self.tables = {
            "transcripts": df.withColumn("text_len", F.length("text").cast("double")),
            "conversations": spark.read.parquet(
                os.path.join(self.dir, "conversations.parquet"))}
        self.engine = SparkContractEngine(spark, include_failed_samples=True)

    def op(self, spark, out_dir: str, tracer=None):
        """One call as a long-lived service makes it: load the contract,
        test, write the JSON report. Both helpers are looked up on their
        modules at call time, where the traced run wraps them."""
        from datacontract_cli_spark.model import contract
        from datacontract_cli_spark.output import writers

        run = self.engine.test(contract.load_contract(self.contract_path),
                               tables=self.tables)
        writers.write_json(run, os.path.join(out_dir, "run.json"))
        return run

    def check(self, run, reference) -> tuple[bool, object]:
        """The verdict is failed with exactly the expected failing keys, and
        every count equals the DuckDB reference."""
        by_key = {c.key: c for c in run.checks}
        failing = {c.key for c in run.checks if c.result.value != "passed"}
        ok = (run.result.value == "failed" and failing == self.expected_failed
              and all(c.result.value in ("passed", "failed") for c in run.checks))
        for key, want in self.ref["counts"].items():
            check = by_key.get(key)
            ok = ok and check is not None and (check.diagnostics or {}).get("value") == want
        for key in self.expected_failed - {"transcripts__conv_id__referential_integrity"}:
            samples = by_key[key].failedSamples if key in by_key else None
            ok = ok and bool(samples) and len(samples) <= self.engine.sample_limit
        return ok, None


class Curate:
    name = "curate_docs"
    lanes = {"near_dedup": "arrow minhash kernel + connected components",
             "decontamination": "hashed n-gram broadcast semi-join",
             "contract_gate": "engine.violations.conforming row filter",
             "write": "parquet overwrite"}
    classifier_threshold = 0.49

    def __init__(self, seed: int):
        t0 = time.perf_counter()
        self.dir, self.ref = inputs.documents(seed)
        self.gen_s = time.perf_counter() - t0
        self.items = self.ref["docs"]

    def bind(self, spark) -> None:
        from datacontract_cli_spark.model.contract import load_contract

        self.contract = load_contract(os.path.join(self.dir, "contract.yaml"))
        self.docs = spark.read.parquet(inputs.DOCS_CORPUS)
        self.eval = spark.read.parquet(os.path.join(self.dir, "eval.parquet"))

    def op(self, spark, out_dir: str, tracer=None):
        from datacontract_cli_spark.pipeline import curate_corpus

        out = curate_corpus(self.docs, contract=self.contract,
                            contract_model="documents", benchmark=self.eval,
                            classifier_threshold=self.classifier_threshold,
                            split_weights={"train": 0.9, "valid": 0.1})
        if tracer is None:
            out.write.mode("overwrite").parquet(out_dir)
        else:
            with tracer.span("pipeline.write"):
                out.write.mode("overwrite").parquet(out_dir)
        return out_dir

    def check(self, out_dir, reference) -> tuple[bool, object]:
        """Survivors equal the reference (count and id digest) taken by the
        session's first operation. That first output is checked against
        the corpus instead: some but not all documents survive, no two
        survivors share a text, no eval-set text survives, and both split
        names appear."""
        import pyarrow.parquet as pq

        table = pq.read_table(out_dir, columns=["doc_id", "text", "split"])
        ids = sorted(table.column("doc_id").to_pylist())
        digest = (len(ids), hashlib.sha256(json.dumps(ids).encode()).hexdigest())
        if reference is not None:
            return digest == reference, digest
        texts = table.column("text").to_pylist()
        ok = (0 < len(ids) < self.items and len(set(texts)) == len(texts)
              and not set(texts) & set(self.ref["eval_texts"])
              and set(table.column("split").to_pylist()) == {"train", "valid"})
        return ok, digest


def _trace_overhead(traced: list[float], untraced: list[float]) -> float:
    """Median traced minus median untraced operation time. The first warm
    operation is still warming up (a fifth to a quarter slower than the
    next on these workloads), so only the untraced ones after it count."""
    return statistics.median(traced) - statistics.median(untraced[1:])


def run_in_process(wl, ctx: Ctx) -> dict:
    """Set-up (session start and input binding), one cold operation, then
    warm operations until ``ctx.seconds`` have passed (at least one; a
    traced run alternates untraced and traced ones, at least untraced,
    traced, untraced).
    The cold operation is the only warm-up; set-up counts from process
    start."""
    out_dir = os.path.join(WORK, "out", f"{wl.name}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    tracer = trace.Tracer() if ctx.traced else None
    ctx.excluded_s += wl.gen_s
    with TreeRss() as rss:
        t0 = time.perf_counter()
        spark = _session(wl.name)
        session_s = time.perf_counter() - t0
        wl.bind(spark)
        setup_s = ctx.setup_s()

        t0 = time.perf_counter()
        out = wl.op(spark, out_dir)
        cold_s = time.perf_counter() - t0
        ok, reference = wl.check(out, None)
        ctx.record(ok)

        times, traced_times = [], []
        t_end = time.perf_counter() + ctx.seconds
        while (time.perf_counter() < t_end or not times
               or (tracer is not None and len(times) < 2)):
            _gc_fence(ctx, spark)
            use_trace = tracer is not None and len(times) > len(traced_times)
            if use_trace:
                tracer.install()
                t0 = time.perf_counter()
                with tracer.op(wl.name):
                    out = wl.op(spark, out_dir, tracer)
                traced_times.append(time.perf_counter() - t0)
                tracer.uninstall()
            else:
                t0 = time.perf_counter()
                out = wl.op(spark, out_dir)
                times.append(time.perf_counter() - t0)
            ok, _ = wl.check(out, reference)
            ctx.record(ok)
            if use_trace and reference is not None:
                tracer.ops[-1]["counts"]["pipeline.survivors"] = reference[0]

        app_id = spark.sparkContext.applicationId
        spark.stop()
    shutil.rmtree(out_dir, ignore_errors=True)

    ctx.info.update({"lanes": wl.lanes, "items": wl.items, "op_samples_s": times,
                     "session_start_s": session_s, "input_gen_s": wl.gen_s})
    if tracer is not None:
        log = trace.parse_event_log(os.environ["PERFBENCH_EVENT_DIR"], app_id)
        rows = [trace.op_metrics(tracer, op, log, nproc()) for op in tracer.ops]
        table = trace.median_table(rows)
        table["session.start_s"] = session_s
        table["trace.overhead_s"] = _trace_overhead(traced_times, times)
        ctx.info["self_s"] = trace.self_times(tracer)
        return table
    return {"op_s": statistics.median(times), "cold_op_s": cold_s,
            "setup_s": setup_s, "peak_rss_mb": rss.peak_mb}


# ---------------------------------------------------------------------------
# cli_wide: one CLI process per operation
# ---------------------------------------------------------------------------

class CliWide:
    name = "cli_wide"
    lanes = {"entry": "python -m datacontract_cli_spark test --server local",
             "binding": "local parquet server", "output": "write_json"}

    def __init__(self, seed: int):
        t0 = time.perf_counter()
        self.dir, self.ref = inputs.wide(seed)
        self.gen_s = time.perf_counter() - t0

    def bind(self) -> None:
        """The benchmark's set-up for this workload: write the contract and
        count the checks its rules declare."""
        self.contract, self.declared = inputs.wide_contract(self.dir)

    def command(self, out_json: str) -> list[str]:
        return [sys.executable, "-m", "datacontract_cli_spark", "test",
                self.contract, "--server", "local", "--master", master(),
                "--output", out_json]

    def check(self, rc: int, out_json: str) -> bool:
        """Exit code 0, every check passed, and one check per declared rule
        (the fail-closed invariant)."""
        if rc != 0:
            return False
        with open(out_json) as f:
            checks = json.load(f)["checks"]
        return (len(checks) == self.declared
                and all(c["result"] == "passed" for c in checks))


def _run_child(cmd: list[str], env: dict, log_path: str) -> tuple[int, float]:
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=CLI_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
        wall = time.perf_counter() - t0
    stop_children()  # the child's JVM outlives it by up to a second or two
    return rc, wall


def run_cli(wl: CliWide, ctx: Ctx, env: dict, trace_env: dict | None) -> dict:
    """Time the real CLI per operation. A traced run alternates it with a
    benchmark-owned child (perfbench/cli_child.py) that makes the same
    calls inside spans; the child reports its per-layer readings.

    Each CLI process pays its own session start inside its wall time, so
    ``setup_s`` here is only the benchmark's side: process start until the
    first CLI process can be launched (imports, input lookup, contract
    write). Every operation is a cold process, so ``cold_op_s`` is the
    same median as ``op_s``."""
    work = os.path.join(WORK, "out", f"cli-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    out_json = os.path.join(work, "result.json")
    log_path = os.path.join(work, "child.log")
    with TreeRss() as rss:
        wl.bind()
        ctx.excluded_s += wl.gen_s
        setup_s = ctx.setup_s()
        times, traced_times, rows = [], [], []
        t_end = time.perf_counter() + ctx.seconds
        while (time.perf_counter() < t_end or not times
               or (trace_env is not None and len(times) < 2)):
            use_trace = trace_env is not None and len(times) > len(traced_times)
            if os.path.exists(out_json):
                os.remove(out_json)
            if use_trace:
                layer_json = os.path.join(work, "layers.json")
                cmd = [sys.executable, os.path.join(ROOT, "perfbench", "cli_child.py"),
                       layer_json] + wl.command(out_json)[3:]
                rc, wall = _run_child(cmd, trace_env, log_path)
                traced_times.append(wall)
                if rc in (0, 1) and os.path.exists(layer_json):
                    with open(layer_json) as f:
                        rows.append(json.load(f))
            else:
                rc, wall = _run_child(wl.command(out_json), env, log_path)
                times.append(wall)
            ok = wl.check(rc, out_json)
            if not ok:
                with open(log_path) as f:
                    print(f.read()[-3000:], file=sys.stderr)
            ctx.record(ok)
    shutil.rmtree(work, ignore_errors=True)
    ctx.info.update({"lanes": wl.lanes, "op_samples_s": times,
                     "declared_checks": wl.declared,
                     "input_gen_s": wl.gen_s})
    if trace_env is not None:
        table = trace.median_table(rows)
        table["trace.overhead_s"] = _trace_overhead(traced_times, times)
        ctx.info["self_s"] = {k: statistics.median(r["__self__"].get(k, 0.0) for r in rows)
                              for k in sorted({k for r in rows for k in r["__self__"]})}
        return table
    op_s = statistics.median(times)
    return {"op_s": op_s, "cold_op_s": op_s, "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb}
