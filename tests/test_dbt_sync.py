"""dbt sync integration: generation (golden vs the reference's sync fixture
contract), bound predicates, run_results.json parsing, binary gating.

Reference: datacontract/integration/dbt_sync.py + tests/test_dbt_sync.py.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
import yaml

from datacontract_cli_spark.integration import dbt_sync
from datacontract_cli_spark.model.contract import QualityRule, load_contract
from datacontract_cli_spark.model.run import ResultEnum, Run

HERE = os.path.dirname(__file__)
REPO = os.path.dirname(HERE)
REF_CONTRACT = "/root/reference/tests/fixtures/dbt_sync/orders.odcs.yaml"
needs_reference = pytest.mark.skipif(not os.path.exists(REF_CONTRACT),
                                     reason="reference fixtures not available")


def _project(tmp_path: Path) -> Path:
    proj = tmp_path / "dbt_project"
    (proj / "models").mkdir(parents=True)
    (proj / "tests").mkdir()
    (proj / "dbt_project.yml").write_text(
        "name: fixture\nversion: '1.0'\nprofile: fixture\n")
    return proj


# --- bound-violation predicate ----------------------------------------------

@pytest.mark.parametrize("kwargs,expect", [
    ({"must_be_gt": 1000}, "metric_value <= 1000"),
    ({"must_be_lt": 50000}, "metric_value >= 50000"),
    ({"must_be": 5}, "metric_value <> 5"),
    ({"must_not_be": "x"}, "metric_value = 'x'"),
    ({"must_be_between": [10, 20]}, "metric_value < 10 OR metric_value > 20"),
    ({"must_not_be_between": [10, 20]},
     "(metric_value >= 10 AND metric_value <= 20)"),
])
def test_bound_violation_predicate(kwargs, expect):
    pred = dbt_sync._bound_violation_predicate(QualityRule(**kwargs))
    assert pred.startswith("metric_value IS NULL OR ")
    assert expect in pred


def test_bound_violation_predicate_none_without_bounds():
    assert dbt_sync._bound_violation_predicate(QualityRule(query="SELECT 1")) is None


# --- generation golden on the reference fixture ------------------------------

@needs_reference
def test_generate_from_reference_fixture(tmp_path):
    contract = load_contract(REF_CONTRACT)
    run = Run()
    obj = contract.schema_objects[0]
    model_dict, singulars = dbt_sync.generate_dbt_tests_for_schema(
        contract, obj, "orders", run)

    assert model_dict["name"] == "orders"
    assert model_dict["description"] == "Orders table"
    cols = {c["name"]: c for c in model_dict["columns"]}
    assert set(cols) == {"order_id", "order_status", "order_total"}

    # order_id: pk + unique -> not_null + unique generic tests with meta
    oid_tests = cols["order_id"]["data_tests"]
    names = [next(iter(t)) if isinstance(t, dict) else t for t in oid_tests]
    assert names == ["not_null", "unique"]
    nn = oid_tests[0]["not_null"]
    assert nn["config"]["meta"]["datacontract_cli"]["check"] == \
        "orders__order_id__field_required"
    assert nn["description"] == "Check that field order_id has no missing values"

    # order_status enum from customProperties -> accepted_values
    st_tests = cols["order_status"]["data_tests"]
    accepted = [t for t in st_tests if isinstance(t, dict) and "accepted_values" in t]
    assert accepted and accepted[0]["accepted_values"]["values"] == \
        ["pending", "shipped", "delivered"]

    # singular SQL: order_id length + pattern, order_total range,
    # order_total quality query, table-level row count quality
    by_file = {t.filename: t for t in singulars}
    fn = "orders_sync_test__1_0_0__orders__order_id__length.sql"
    assert fn in by_file
    assert 'LENGTH("order_id") < 8 OR LENGTH("order_id") > 10' in by_file[fn].sql
    assert "{{ ref('orders') }}" in by_file[fn].sql

    pat = "orders_sync_test__1_0_0__orders__order_id__pattern.sql"
    assert "RLIKE '^B[0-9]+$'" in by_file[pat].sql  # spark branch present
    assert "REGEXP_CONTAINS" in by_file[pat].sql    # bigquery branch present

    rng = "orders_sync_test__1_0_0__orders__order_total__range.sql"
    assert '"order_total" < 0 OR "order_total" > 1000000' in by_file[rng].sql

    # quality with query + mustBeLessThan -> CTE singular, severity warn
    quality = [t for t in singulars if "WITH _dc_metric" in t.sql
               and "order_total" in t.filename]
    assert len(quality) == 1
    assert "severity='warn'" in quality[0].sql
    assert "metric_value >= 50000" in quality[0].sql
    assert "SELECT MAX(order_total) AS max_total FROM orders" in quality[0].sql

    # table-level quality (query + mustBeGreaterThan) -> singular CTE
    table_q = [t for t in singulars if "row_count" in t.filename.lower()
               or "metric_value <= 1000" in t.sql]
    assert table_q and "SELECT COUNT(*) AS row_count FROM orders" in table_q[0].sql


@needs_reference
def test_write_dbt_tests_sidecar_files(tmp_path):
    contract = load_contract(REF_CONTRACT)
    proj = _project(tmp_path)
    gen = dbt_sync.write_dbt_tests(contract, proj)
    assert (proj / "models" / "datacontract_cli" / "orders.yml").is_file()
    assert gen.written_sql and all(p.is_file() for p in gen.written_sql)
    doc = yaml.safe_load((proj / "models" / "datacontract_cli" / "orders.yml")
                        .read_text())
    assert doc["version"] == 2 and doc["models"][0]["name"] == "orders"
    # every singular sql carries the managed-test meta marker
    for p in gen.written_sql:
        assert '"include_in_tests": true' in p.read_text()


@needs_reference
def test_resync_removes_stale_generated_files(tmp_path):
    contract = load_contract(REF_CONTRACT)
    proj = _project(tmp_path)
    gen = dbt_sync.write_dbt_tests(contract, proj)
    tests_dir = gen.written_sql[0].parent
    # simulate a test generated for a check since removed from the contract
    stale = tests_dir / "zz_removed_check.sql"
    stale.write_text("-- generated by datacontract-cli-spark from "
                     "orders-sync-test@0.9.0 (model: orders)\nSELECT 1\n")
    # another contract's file and a user file must survive
    other = tests_dir / "other_contract.sql"
    other.write_text("-- generated by datacontract-cli-spark from "
                     "other-contract@1.0.0 (model: x)\nSELECT 1\n")
    user = tests_dir / "user_handwritten.sql"
    user.write_text("SELECT 1\n")
    dbt_sync.write_dbt_tests(contract, proj)
    assert not stale.exists()          # same contract id: regenerated away
    assert other.exists()              # different contract: untouched
    assert user.exists()               # no generated header: untouched


@needs_reference
def test_write_dbt_tests_requires_project(tmp_path):
    contract = load_contract(REF_CONTRACT)
    with pytest.raises(ValueError, match="dbt_project.yml"):
        dbt_sync.write_dbt_tests(contract, tmp_path)


def test_composite_pk_singular_sql():
    t = dbt_sync._composite_pk_singular_test(
        ["a", "b"], "cid", "1.0.0", "m")
    assert 'SELECT "a", "b"' in t.sql
    assert "HAVING COUNT(*) > 1" in t.sql
    assert "model_unique_combination" in t.sql


def test_filename_disambiguation():
    tests = [dbt_sync.SingularTest("x.sql", "", None),
             dbt_sync.SingularTest("x.sql", "", None),
             dbt_sync.SingularTest("x.sql", "", None)]
    dbt_sync._disambiguate_singular_filenames(tests)
    assert [t.filename for t in tests] == ["x.sql", "x_2.sql", "x_3.sql"]


# --- run_results parsing -----------------------------------------------------

def _write_target(proj: Path, results, nodes):
    target = proj / "target"
    target.mkdir(exist_ok=True)
    (target / "run_results.json").write_text(json.dumps({"results": results}))
    (target / "manifest.json").write_text(json.dumps({"nodes": nodes}))


@needs_reference
def test_parse_run_results(tmp_path):
    contract = load_contract(REF_CONTRACT)
    proj = _project(tmp_path)
    uid_gen = "test.fixture.not_null_orders_order_id.abc"
    uid_sing = "test.fixture.orders_sync_test__1_0_0__orders__order_id__length"
    _write_target(proj, [
        {"unique_id": uid_gen, "status": "pass"},
        {"unique_id": uid_sing, "status": "fail", "failures": 3,
         "message": "Got 3 results, configured to fail if != 0"},
        {"unique_id": "test.fixture.unknown.x", "status": "error",
         "message": "compile error"},
    ], {
        uid_gen: {"name": "not_null_orders_order_id",
                  "column_name": "order_id",
                  "attached_node": "model.fixture.orders",
                  "config": {"meta": {"datacontract_cli": {
                      "check": "orders__order_id__field_required"}}}},
        "model.fixture.orders": {"name": "orders"},
        uid_sing: {"name": "orders__order_id__length",
                   "config": {"meta": {"datacontract_cli": {
                       "check": "orders__order_id__field_length",
                       "model": "orders", "field": "order_id",
                       "description": "Check length"}}}},
    })
    run = dbt_sync.parse_run_results_file(proj, contract)
    assert run.dataContractId == "orders-sync-test"
    by_key = {c.key: c for c in run.checks}
    ok = by_key["orders__order_id__field_required"]
    assert ok.result == ResultEnum.passed
    assert ok.model == "orders" and ok.field == "order_id"
    assert ok.type == "field_required" and ok.engine == "dbt"
    bad = by_key["orders__order_id__field_length"]
    assert bad.result == ResultEnum.failed
    assert bad.model == "orders" and bad.field == "order_id"
    assert "failures=3" in bad.reason
    assert bad.name == "Check length"
    # unknown node: dbt_test fallback, error status mapped
    other = [c for c in run.checks if c.type == "dbt_test"]
    assert other and other[0].result == ResultEnum.error
    assert run.result == ResultEnum.error  # worst of the three


@needs_reference
def test_parse_missing_run_results_warns(tmp_path):
    proj = _project(tmp_path)
    run = dbt_sync.parse_run_results_file(proj, load_contract(REF_CONTRACT))
    assert run.checks == []
    assert any("not found" in log.message for log in run.logs)


def test_run_dbt_test_gated_on_binary(tmp_path, monkeypatch):
    # dbt isn't installed in this image — the gate must raise cleanly
    monkeypatch.setenv("PATH", str(tmp_path))
    with pytest.raises(ValueError, match="dbt not found on PATH"):
        dbt_sync.run_dbt_test(_project(tmp_path))


# --- CLI ---------------------------------------------------------------------

@needs_reference
def test_cli_dbt_sync_skip_tests(tmp_path):
    proj = _project(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-m", "datacontract_cli_spark", "dbt", "sync",
         REF_CONTRACT, "--project-dir", str(proj), "--skip-tests"],
        capture_output=True, text=True, cwd=REPO, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "orders.yml" in proc.stdout
    assert (proj / "models" / "datacontract_cli" / "orders.yml").is_file()


@needs_reference
def test_cli_dbt_test_without_binary_errors(tmp_path):
    proj = _project(tmp_path)
    env = dict(os.environ, PATH=str(tmp_path))
    env["PATH"] = f"{os.path.dirname(sys.executable)}:{tmp_path}"
    proc = subprocess.run(
        [sys.executable, "-m", "datacontract_cli_spark", "dbt", "test",
         REF_CONTRACT, "--project-dir", str(proj)],
        capture_output=True, text=True, cwd=REPO, timeout=120, env=env,
    )
    assert proc.returncode == 1
    assert "dbt not found on PATH" in proc.stderr
