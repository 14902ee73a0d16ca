"""Result model: a test run and its checks.

Mirrors the reference's result model (datacontract/model/run.py:45-142) so a
consumer of the reference CLI sees the same shape: a Run holds Checks, each
Check has a stable key/type/category, a result from the same enum, a reason,
a diagnostics dict and optional failed samples; the run's overall result is
the worst individual result (error > failed > warning > passed > unknown).

Written as plain dataclasses (no pydantic needed on the executor hot path —
these objects only live on the driver).
"""

from __future__ import annotations

import enum
import json
import uuid
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timezone
from typing import Any, Dict, List, Optional


class ResultEnum(str, enum.Enum):
    passed = "passed"
    warning = "warning"
    failed = "failed"
    error = "error"
    info = "info"
    unknown = "unknown"


# Worst-first precedence used to fold check results into the run result
# (reference: run.py:132-142).
_SEVERITY_ORDER = [
    ResultEnum.error,
    ResultEnum.failed,
    ResultEnum.warning,
    ResultEnum.passed,
    ResultEnum.info,
    ResultEnum.unknown,
]


@dataclass
class Check:
    key: str
    category: str  # schema | quality | servicelevel | custom
    type: str
    name: str
    model: Optional[str] = None
    field: Optional[str] = None
    id: str = dc_field(default_factory=lambda: str(uuid.uuid4()))
    engine: str = "datacontract-cli-spark"
    language: Optional[str] = None  # "spark-sql" | "introspection"
    implementation: Optional[str] = None
    result: ResultEnum = ResultEnum.unknown
    reason: Optional[str] = None
    diagnostics: Optional[Dict[str, Any]] = None
    failedSamples: Optional[List[Dict[str, Any]]] = None
    qualityId: Optional[str] = None
    tags: Optional[List[str]] = None
    dimension: Optional[str] = None

    # deprecated snake_case aliases (reference model/run.py renamed
    # quality_id/failed_samples to camelCase; old code keeps working with a
    # DeprecationWarning — reference test_run_check_deprecated_fields.py)
    @property
    def quality_id(self) -> Optional[str]:
        import warnings
        warnings.warn("Check.quality_id is deprecated; use Check.qualityId",
                      DeprecationWarning, stacklevel=2)
        return self.qualityId

    @quality_id.setter
    def quality_id(self, value: Optional[str]) -> None:
        import warnings
        warnings.warn("Check.quality_id is deprecated; use Check.qualityId",
                      DeprecationWarning, stacklevel=2)
        self.qualityId = value

    @property
    def failed_samples(self) -> Optional[List[Dict[str, Any]]]:
        import warnings
        warnings.warn("Check.failed_samples is deprecated; "
                      "use Check.failedSamples",
                      DeprecationWarning, stacklevel=2)
        return self.failedSamples

    @failed_samples.setter
    def failed_samples(self, value) -> None:
        import warnings
        warnings.warn("Check.failed_samples is deprecated; "
                      "use Check.failedSamples",
                      DeprecationWarning, stacklevel=2)
        self.failedSamples = value

    def to_dict(self) -> Dict[str, Any]:
        d = {
            "id": self.id,
            "key": self.key,
            "category": self.category,
            "type": self.type,
            "name": self.name,
            "model": self.model,
            "field": self.field,
            "engine": self.engine,
            "language": self.language,
            "implementation": self.implementation,
            "result": self.result.value,
            "reason": self.reason,
            "diagnostics": self.diagnostics,
        }
        if self.failedSamples is not None:
            d["failedSamples"] = self.failedSamples
        if self.qualityId is not None:
            d["qualityId"] = self.qualityId
        if self.tags is not None:
            d["tags"] = self.tags
        if self.dimension is not None:
            d["dimension"] = self.dimension
        return d


@dataclass
class Log:
    level: str
    message: str
    timestamp: datetime = dc_field(default_factory=lambda: datetime.now(timezone.utc))


@dataclass
class Run:
    runId: str = dc_field(default_factory=lambda: str(uuid.uuid4()))
    dataContractId: Optional[str] = None
    dataContractVersion: Optional[str] = None
    server: Optional[str] = None
    filters: Optional[List[str]] = None
    timestampStart: datetime = dc_field(default_factory=lambda: datetime.now(timezone.utc))
    timestampEnd: Optional[datetime] = None
    result: ResultEnum = ResultEnum.unknown
    checks: List[Check] = dc_field(default_factory=list)
    logs: List[Log] = dc_field(default_factory=list)

    # --- lookup -----------------------------------------------------------
    def check(self, key: str) -> Optional[Check]:
        for c in self.checks:
            if c.key == key:
                return c
        return None

    # --- mutation from the executor ----------------------------------------
    def log_warn(self, message: str) -> None:
        self.logs.append(Log("warning", message))

    def log_info(self, message: str) -> None:
        self.logs.append(Log("info", message))

    def log_error(self, message: str) -> None:
        self.logs.append(Log("error", message))

    def set_result(self, key: str, result: ResultEnum, reason: Optional[str] = None) -> None:
        c = self.check(key)
        if c is not None:
            c.result = result
            c.reason = reason

    def set_diagnostics(self, key: str, diagnostics: Dict[str, Any]) -> None:
        c = self.check(key)
        if c is not None:
            c.diagnostics = diagnostics

    # --- finalization -------------------------------------------------------
    def finish(self) -> "Run":
        self.timestampEnd = datetime.now(timezone.utc)
        self.result = self._overall()
        return self

    def _overall(self) -> ResultEnum:
        if not self.checks:
            return ResultEnum.unknown
        present = {c.result for c in self.checks}
        for level in _SEVERITY_ORDER:
            if level in present:
                # passed/info/unknown only win if nothing worse exists
                if level in (ResultEnum.error, ResultEnum.failed, ResultEnum.warning):
                    return level
                break
        if all(c.result in (ResultEnum.passed, ResultEnum.info) for c in self.checks):
            return ResultEnum.passed
        if ResultEnum.unknown in present and present <= {
            ResultEnum.unknown,
            ResultEnum.passed,
            ResultEnum.info,
        }:
            return ResultEnum.unknown
        return ResultEnum.passed

    def to_dict(self) -> Dict[str, Any]:
        return {
            "runId": self.runId,
            "dataContractId": self.dataContractId,
            "dataContractVersion": self.dataContractVersion,
            "server": self.server,
            "filters": self.filters,
            "timestampStart": self.timestampStart.isoformat() if self.timestampStart else None,
            "timestampEnd": self.timestampEnd.isoformat() if self.timestampEnd else None,
            "result": self.result.value,
            "checks": [c.to_dict() for c in self.checks],
            "logs": [
                {"level": lg.level, "message": lg.message, "timestamp": lg.timestamp.isoformat()}
                for lg in self.logs
            ],
        }

    def to_json(self, indent: int = 2) -> str:
        return json.dumps(self.to_dict(), indent=indent, default=str)
