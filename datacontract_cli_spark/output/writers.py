"""Result writers: console table, JSON, JUnit XML.

Mirrors the reference's output layer (datacontract/output/
test_results_writer.py:17-114, json_test_results.py, junit_test_results.py:
10-87): console rows sorted by (result, model, field), exit code 1 on
failure, JUnit mapping failed→<failure> error→<error> unknown/info→<skipped>.
Driver-side only — results are tiny.
"""

from __future__ import annotations

from typing import Optional
from xml.sax.saxutils import escape

from datacontract_cli_spark.model.run import Check, ResultEnum, Run

_RESULT_ORDER = {
    ResultEnum.error: 0,
    ResultEnum.failed: 1,
    ResultEnum.warning: 2,
    ResultEnum.unknown: 3,
    ResultEnum.info: 4,
    ResultEnum.passed: 5,
}


def _sorted_checks(run: Run) -> list[Check]:
    return sorted(
        run.checks,
        key=lambda c: (_RESULT_ORDER.get(c.result, 9), c.model or "", c.field or "", c.key),
    )


def console_table(run: Run) -> str:
    headers = ["result", "model", "field", "type", "name", "reason"]
    rows = [
        [
            c.result.value,
            c.model or "",
            c.field or "",
            c.type,
            c.name,
            (c.reason or "")[:80],
        ]
        for c in _sorted_checks(run)
    ]
    widths = [max(len(h), *(len(r[i]) for r in rows)) if rows else len(h)
              for i, h in enumerate(headers)]
    def fmt(row):
        return "| " + " | ".join(v.ljust(w) for v, w in zip(row, widths)) + " |"
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    lines = [sep, fmt(headers), sep] + [fmt(r) for r in rows] + [sep]
    lines.append(f"Run result: {run.result.value} "
                 f"({sum(1 for c in run.checks if c.result == ResultEnum.passed)}"
                 f"/{len(run.checks)} checks passed)")
    return "\n".join(lines)


def write_json(run: Run, path: Optional[str] = None) -> str:
    text = run.to_json()
    if path:
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
    return text


def write_junit(run: Run, path: Optional[str] = None) -> str:
    checks = run.checks
    n_fail = sum(1 for c in checks if c.result in (ResultEnum.failed, ResultEnum.warning))
    n_err = sum(1 for c in checks if c.result == ResultEnum.error)
    n_skip = sum(1 for c in checks if c.result in (ResultEnum.unknown, ResultEnum.info))
    dur = ""
    if run.timestampEnd and run.timestampStart:
        dur = f' time="{(run.timestampEnd - run.timestampStart).total_seconds():.3f}"'
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<testsuites tests="{len(checks)}" failures="{n_fail}" errors="{n_err}">',
        f'  <testsuite name="datacontract-cli-spark" tests="{len(checks)}" '
        f'failures="{n_fail}" errors="{n_err}" skipped="{n_skip}"{dur}>',
    ]
    for c in checks:
        name = escape(f"{c.key}: {c.name}", {'"': "&quot;"})
        if c.result == ResultEnum.passed:
            out.append(f'    <testcase name="{name}" classname="{escape(c.model or "", {chr(34): "&quot;"})}"/>')
            continue
        out.append(f'    <testcase name="{name}" classname="{escape(c.model or "", {chr(34): "&quot;"})}">')
        reason = escape(c.reason or "", {'"': "&quot;"})
        if c.result in (ResultEnum.failed, ResultEnum.warning):
            out.append(f'      <failure message="{reason}"/>')
        elif c.result == ResultEnum.error:
            out.append(f'      <error message="{reason}"/>')
        else:
            out.append("      <skipped/>")
        out.append("    </testcase>")
    out.append("  </testsuite>")
    out.append("</testsuites>")
    text = "\n".join(out)
    if path:
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
    return text


def exit_code(run: Run) -> int:
    return 0 if run.result in (ResultEnum.passed, ResultEnum.warning, ResultEnum.unknown) else 1
