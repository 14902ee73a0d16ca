"""One test() call runs its independent Spark actions (the flat aggregate
with its samples, each uniqueness, referential-integrity, PSI, custom-SQL
and maxRunLength check) concurrently. The Run must not depend on that:
same check order, values, reasons and samples on every call, each value
equal to a brute-force count, and an action that raises errors only its
own checks."""

import json
import math
import re
from collections import Counter

import pytest

from datacontract_cli_spark import SparkContractEngine, load_contract_str
from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.operators import drift

_CONTRACT = """
id: every-action
version: 1.0.0
schema:
  - name: t
    properties:
      - name: id
        logicalType: integer
        required: true
        primaryKey: true
      - name: email
        logicalType: string
        unique: true
      - name: role
        logicalType: string
        logicalTypeOptions:
          enum: [a, b, c]
        quality:
          - type: library
            metric: freqDriftPsi
            mustBeLessThan: 0.01
            arguments:
              baseline: {a: 0.5, b: 0.3, c: 0.2}
      - name: code
        logicalType: string
        logicalTypeOptions:
          pattern: "^C[0-9]{3}$"
      - name: conv
        logicalType: string
        quality:
          - type: library
            metric: referentialIntegrity
            mustBe: 0
            arguments: {ref: p.conv}
          - type: library
            metric: maxRunLength
            mustBeLessThan: 3
            arguments:
              orderBy: [seq]
              actionColumns: [action]
      - name: seq
        logicalType: integer
      - name: action
        logicalType: string
    quality:
      - type: sql
        query: SELECT COUNT(*) FROM t WHERE seq > 5
        mustBeLessThan: 10
  - name: p
    properties:
      - name: conv
        logicalType: string
"""

_ROLES = ["a", "b", "c", "zz"]
_BASELINE = {"a": 0.5, "b": 0.3, "c": 0.2}
_PARENT_CONVS = [f"c{i}" for i in range(6)]


def _rows():
    """60 rows with planted defects: repeated ids and emails, out-of-enum
    and null roles, codes that miss the pattern, convs without a parent."""
    rows = []
    for i in range(60):
        rows.append((i if i % 17 else i - 1, f"u{i % 50}@x",
                     _ROLES[(i * 7) % 4] if i % 9 else None,
                     f"C{i:03d}" if i % 5 else "bad", f"c{i % 8}", i // 8,
                     "go" if (i // 8) % 3 else "stop"))
    return rows


def _brute_force(rows):
    ids, emails, roles, codes, convs, seqs, actions = zip(*rows)
    n = len(rows)
    observed = {k: v / n for k, v in Counter(roles).items()}
    psi = 0.0
    for k in set(observed) | set(_BASELINE):
        a, b = max(observed.get(k, 0.0), drift._EPS), max(_BASELINE.get(k, 0.0), drift._EPS)
        psi += (a - b) * math.log(a / b)
    longest = 0
    for conv in set(convs):
        seq_actions = [a for _, a in sorted((s, a) for c, s, a in zip(convs, seqs, actions)
                                            if c == conv)]
        run = 0
        for j, a in enumerate(seq_actions):
            run = run + 1 if j and a == seq_actions[j - 1] else 1
            longest = max(longest, run)
    return {
        "t__id__field_required": sum(v is None for v in ids),
        "t__id__field_primary_key_unique": sum(c > 1 for c in Counter(ids).values()),
        "t__email__field_unique": sum(c > 1 for c in Counter(emails).values()),
        "t__role__field_enum": sum(r is not None and r not in ("a", "b", "c") for r in roles),
        "t__role__freq_drift_psi": round(psi, 6),
        "t__code__field_regex": sum(c is not None and not re.fullmatch(r"C[0-9]{3}", c)
                                    for c in codes),
        "t__conv__referential_integrity": sum(c is not None and c not in _PARENT_CONVS
                                              for c in convs),
        "t__conv__max_run_length": longest,
        "t__quality_sql_0": sum(s > 5 for s in seqs),
    }


def _tables(spark):
    df = spark.createDataFrame(_rows(), "id int, email string, role string, code string, "
                                        "conv string, seq int, action string")
    parent = spark.createDataFrame([(c,) for c in _PARENT_CONVS], "conv string")
    return {"t": df, "p": parent}


def _stable_json(run) -> str:
    """The Run JSON without what differs by construction between calls:
    run and check ids, timestamps."""
    d = run.to_dict()
    for key in ("runId", "timestampStart", "timestampEnd"):
        d.pop(key)
    for check in d["checks"]:
        check.pop("id")
    for log in d["logs"]:
        log.pop("timestamp")
    return json.dumps(d, sort_keys=True, default=str)


def test_concurrent_actions_give_a_deterministic_run(spark):
    contract = load_contract_str(_CONTRACT)
    tables = _tables(spark)
    engine = SparkContractEngine(spark, include_failed_samples=True)
    runs = [engine.test(contract, tables=tables) for _ in range(3)]

    assert _stable_json(runs[1]) == _stable_json(runs[0])
    assert _stable_json(runs[2]) == _stable_json(runs[0])
    run = runs[0]
    assert [c.key for c in run.checks] == [s.key for s in compile_checks(contract, None)]
    by_key = {c.key: c for c in run.checks}
    for key, want in _brute_force(_rows()).items():
        assert by_key[key].diagnostics["value"] == pytest.approx(want, abs=1e-6), key
    assert all(c.result.value in ("passed", "failed") for c in run.checks)
    for key in ("t__id__field_primary_key_unique", "t__email__field_unique",
                "t__role__field_enum", "t__code__field_regex"):
        samples = by_key[key].failedSamples
        assert samples and len(samples) <= engine.sample_limit, key


def test_an_action_that_raises_errors_only_its_own_checks(spark, monkeypatch):
    def explode(self, run, spec, df):
        raise RuntimeError("psi lane exploded")

    monkeypatch.setattr(SparkContractEngine, "_check_psi", explode)
    contract = load_contract_str(_CONTRACT)
    run = SparkContractEngine(spark, include_failed_samples=True).test(
        contract, tables=_tables(spark))

    by_key = {c.key: c for c in run.checks}
    psi = by_key.pop("t__role__freq_drift_psi")
    assert psi.result.value == "error"
    assert "psi lane exploded" in psi.reason
    assert run.result.value == "error"
    assert all(c.result.value in ("passed", "failed") for c in by_key.values())
    for key, want in _brute_force(_rows()).items():
        if key in by_key:
            assert by_key[key].diagnostics["value"] == pytest.approx(want, abs=1e-6), key


def test_many_concurrent_actions_each_decide_their_own_check(spark, monkeypatch):
    """More pool threads than cores and a short interpreter switch interval:
    each of many concurrent custom-SQL actions still writes its own value
    into its own check, and the call finishes in bounded time."""
    import sys
    import threading

    from datacontract_cli_spark.engine import executor

    n = 16
    quality = "".join(f"""
      - type: sql
        query: SELECT COUNT(*) + {i} FROM t
        mustBe: {60 + i}""" for i in range(n))
    contract = load_contract_str(f"""
id: many-actions
version: 1.0.0
schema:
  - name: t
    properties:
      - name: id
        logicalType: integer
    quality:{quality}
""")
    monkeypatch.setattr(executor, "_ACTION_POOL_WIDTH", 8)
    tables = _tables(spark)
    runs = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        caller = threading.Thread(
            target=lambda: runs.append(SparkContractEngine(spark).test(contract, tables=tables)))
        caller.start()
        caller.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not caller.is_alive() and len(runs) == 1
    by_key = {c.key: c for c in runs[0].checks}
    for i in range(n):
        check = by_key[f"t__quality_sql_{i}"]
        assert check.result.value == "passed", (i, check.reason)
        assert check.diagnostics["value"] == 60 + i
