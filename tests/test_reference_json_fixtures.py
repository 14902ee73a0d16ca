"""Run the engine over the reference repo's OWN local-json fixtures
(tests/fixtures/local-json*, contracts + data used as inputs).

The reference's corresponding tests are skipped upstream
(test_test_local_json.py — soda-core issue), so the expected outcomes here
are derived from the contracts + data directly:
- local-json (legacy DCS, 3 models incl. nested types + empty objects):
  all checks pass
- local-json-nd (legacy DCS ndjson + float types + custom SQL quality):
  all checks pass (regression: DCS 'float' must map to ODCS 'number')
- local-json-complex (ODCS v3.1, arrays of objects, patternProperties,
  enum-via-customProperties): everything passes EXCEPT the presence check
  for 'empty_object', which genuinely does not appear in the data file
"""

import os

import pytest

from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import Server, load_contract
from datacontract_cli_spark.model.run import ResultEnum

FIXTURES = "/root/reference/tests/fixtures"
needs_reference = pytest.mark.skipif(not os.path.isdir(FIXTURES),
                                     reason="reference fixtures not available")


@needs_reference
def test_local_json_fixture(spark):
    c = load_contract(f"{FIXTURES}/local-json/datacontract.yaml")
    c.servers[0].path = f"{FIXTURES}/local-json/data/verbraucherpreisindex.json"
    c.servers[0].location = c.servers[0].path
    run = SparkContractEngine(spark).test(c)
    assert run.result is ResultEnum.passed, \
        [(ch.key, ch.result.value, ch.reason) for ch in run.checks
         if ch.result is not ResultEnum.passed]
    assert len(run.checks) >= 40


@needs_reference
def test_local_json_nd_fixture(spark):
    c = load_contract(f"{FIXTURES}/local-json-nd/datacontract.yaml")
    c.servers[0].path = f"{FIXTURES}/local-json-nd/data/flights-100.json"
    c.servers[0].location = c.servers[0].path
    run = SparkContractEngine(spark).test(c)
    assert run.result is ResultEnum.passed, \
        [(ch.key, ch.result.value, ch.reason) for ch in run.checks
         if ch.result is not ResultEnum.passed]
    # the fixture's custom SQL quality rule executed (not skipped)
    assert any(ch.category in ("quality", "custom") for ch in run.checks)


@needs_reference
def test_local_json_complex_fixture(spark):
    c = load_contract(f"{FIXTURES}/local-json-complex/datacontract.yaml")
    # the fixture declares no servers; the reference test injects one
    c.servers = [Server(server="local", type="local", format="json",
                        path=f"{FIXTURES}/local-json-complex/data/sts_data.json")]
    run = SparkContractEngine(spark).test(c)
    failing = {ch.key: ch for ch in run.checks
               if ch.result is not ResultEnum.passed}
    # only the genuinely-absent optional column fails its presence check
    assert set(failing) == {"sts_data__empty_object__field_is_present"}, \
        [(k, ch.result.value, ch.reason) for k, ch in failing.items()]
    # the single pretty-printed JSON object read as ONE row
    js = run.check("sts_data__json_schema")
    assert js.result is ResultEnum.passed
    assert js.diagnostics == {"row_count": 1, "invalid_count": 0}


@needs_reference
def test_reference_csv_fixture(spark):
    """The reference's csv fixture (DCS 0.9.3, schema-evolution 5-column
    variant tolerated) validates clean — matching its upstream expectation
    (tests/test_test_csv.py)."""
    for f in ("sample_data.csv", "sample_data_5_column.csv"):
        c = load_contract(f"{FIXTURES}/csv/data/datacontract.yaml")
        c.servers[0].path = f"{FIXTURES}/csv/data/{f}"
        run = SparkContractEngine(spark).test(c)
        assert run.result is ResultEnum.passed, (f, [
            (ch.key, ch.result.value, ch.reason) for ch in run.checks
            if ch.result is not ResultEnum.passed])
