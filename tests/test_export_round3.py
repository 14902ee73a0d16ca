"""Round-3 exporters: sodacl, dbt (models/sources/staging), html, markdown,
mermaid — golden-compared against the reference repo's own export fixtures
and test expectations (tests/test_export_sodacl.py, test_export_dbt_models.py)."""

import os

import pytest
import yaml

from datacontract_cli_spark.cli import main
from datacontract_cli_spark.export_dbt import (
    to_dbt_models_yaml,
    to_dbt_sources_yaml,
    to_dbt_staging_sql,
)
from datacontract_cli_spark.export_docs import to_html, to_markdown, to_mermaid
from datacontract_cli_spark.export_sodacl import to_sodacl_dict
from datacontract_cli_spark.model.contract import load_contract

SODACL_FIXTURE = "/root/reference/tests/fixtures/sodacl/datacontract.odcs.yaml"
SODACL_NUMERIC = "/root/reference/tests/fixtures/sodacl/datacontract_numeric_retention.odcs.yaml"
EXPORT_FIXTURE = "/root/reference/tests/fixtures/export/datacontract.odcs.yaml"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(os.path.dirname(os.path.dirname(EXPORT_FIXTURE))),
    reason="reference fixtures not available")

# the reference's expected SodaCL output (tests/test_export_sodacl.py:11-75)
SODACL_EXPECTED = """
checks for line_items:
  - row_count > 10:
      name: Have at lease 10 line items
checks for orders:
  - schema:
      name: orders__order_id__field_is_present
      fail:
        when required column missing:
          - order_id
  - schema:
      name: orders__order_id__field_type
      fail:
        when wrong column type:
          order_id: string
  - missing_count(order_id) = 0:
      name: orders__order_id__field_required
  - schema:
      name: orders__order_timestamp__field_is_present
      fail:
        when required column missing:
          - order_timestamp
  - schema:
      name: orders__order_timestamp__field_type
      fail:
        when wrong column type:
          order_timestamp: timestamp
  - missing_count(order_timestamp) = 0:
      name: orders__order_timestamp__field_required
  - schema:
      name: orders__processed_timestamp__field_is_present
      fail:
        when required column missing:
          - processed_timestamp
  - schema:
      name: orders__processed_timestamp__field_type
      fail:
        when wrong column type:
          processed_timestamp: timestamp
  - missing_count(processed_timestamp) = 0:
      name: orders__processed_timestamp__field_required
  - schema:
      name: orders__order_total__field_is_present
      fail:
        when required column missing:
          - order_total
  - schema:
      name: orders__order_total__field_type
      fail:
        when wrong column type:
          order_total: integer
  - orders__order_total__quality_sql_0 between 1000 and 49900:
      name: orders__order_total__quality_sql_0
      orders__order_total__quality_sql_0 query: |
        SELECT quantile_cont(order_total, 0.95) AS percentile_95
        FROM orders
  - row_count > 10
  - orders_servicelevel_retention < 31536000:
      name: servicelevel_retention
      orders_servicelevel_retention expression: TIMESTAMPDIFF(SECOND, MIN(processed_timestamp), CURRENT_TIMESTAMP)
  - freshness(order_timestamp) < 24h:
      name: servicelevel_freshness
"""


@needs_reference
def test_sodacl_matches_reference_expectation():
    contract = load_contract(SODACL_FIXTURE)
    assert to_sodacl_dict(contract) == yaml.safe_load(SODACL_EXPECTED)


@needs_reference
def test_sodacl_numeric_retention_three_years():
    contract = load_contract(SODACL_NUMERIC)
    checks = to_sodacl_dict(contract)["checks for orders"]
    retention = [c for c in checks
                 if any("servicelevel_retention" in str(k) for k in c)]
    assert retention, "retention check must be generated for numeric value+unit"
    assert any("< 94608000" in str(k) for k in retention[0])


# the reference's expected dbt models output (tests/test_export_dbt_models.py)
DBT_EXPECTED = """
version: 2
models:
  - name: orders
    config:
      meta:
        owner: checkout
        data_contract: orders-unit-test
      materialized: table
      contract:
        enforced: true
    description: The orders model
    data_tests:
      - dbt_utils.unique_combination_of_columns:
          combination_of_columns: [order_id, order_status]
    columns:
      - name: order_id
        data_type: VARCHAR
        constraints: [{type: not_null}, {type: unique}]
        data_tests:
          - dbt_expectations.expect_column_value_lengths_to_be_between:
              min_value: 8
              max_value: 10
          - dbt_expectations.expect_column_values_to_match_regex:
              regex: ^B[0-9]+$
        meta: {classification: sensitive}
        tags: [order_id]
      - name: order_total
        data_type: NUMBER
        constraints: [{type: not_null}]
        description: The order_total field
        data_tests:
          - dbt_expectations.expect_column_values_to_be_between:
              min_value: 0
              max_value: 1000000
      - name: order_status
        data_type: TEXT
        constraints: [{type: not_null}]
        data_tests:
          - accepted_values:
              values: [pending, shipped, delivered]
"""


@needs_reference
def test_dbt_models_match_reference_expectation():
    contract = load_contract(EXPORT_FIXTURE)
    assert yaml.safe_load(to_dbt_models_yaml(contract)) == yaml.safe_load(DBT_EXPECTED)


@needs_reference
def test_dbt_sources_resolve_server_coordinates():
    contract = load_contract(EXPORT_FIXTURE)
    doc = yaml.safe_load(to_dbt_sources_yaml(contract, server="production"))
    [src] = doc["sources"]
    assert src["name"] == "orders-unit-test"
    assert src["meta"] == {"owner": "checkout"}
    assert src["database"] == "my-database"
    assert src["schema"] == "my-schema"
    assert [t["name"] for t in src["tables"]] == ["orders"]
    # sources never emit dbt constraints — not_null/unique become data_tests
    col = src["tables"][0]["columns"][0]
    assert "constraints" not in col
    assert "not_null" in col["data_tests"] and "unique" in col["data_tests"]


@needs_reference
def test_dbt_staging_sql():
    contract = load_contract(EXPORT_FIXTURE)
    sql = to_dbt_staging_sql(contract, "orders")
    assert "order_id, order_total, order_status" in sql
    assert "source('orders-unit-test', 'orders')" in sql


@needs_reference
def test_mermaid_er_diagram():
    contract = load_contract(EXPORT_FIXTURE)
    mmd = to_mermaid(contract)
    assert mmd.startswith("erDiagram")
    assert '"**orders**"' in mmd
    assert "order_id🔑🔒 string" in mmd


@needs_reference
def test_markdown_document():
    contract = load_contract(EXPORT_FIXTURE)
    md = to_markdown(contract)
    assert "# Orders Unit Test" in md
    assert "### orders" in md
    assert "| order_id | string |" in md
    assert "enum=pending|shipped|delivered" in md
    assert "```sql" in md


@needs_reference
def test_html_document_escapes_and_embeds():
    contract = load_contract(EXPORT_FIXTURE)
    page = to_html(contract)
    assert page.startswith("<!DOCTYPE html>")
    assert "<title>Orders Unit Test</title>" in page
    assert "order_total" in page
    assert "erDiagram" in page           # embedded mermaid
    assert "apiVersion" in page          # embedded contract yaml
    # regex with special chars must be escaped, not raw
    assert "^B[0-9]+$" in page


@needs_reference
def test_cli_export_new_formats(tmp_path, capsys):
    for fmt, probe in [("sodacl", "checks for orders"),
                       ("dbt", "version: 2"),
                       ("dbt-sources", "sources:"),
                       ("html", "<!DOCTYPE html>"),
                       ("markdown", "# Orders Unit Test"),
                       ("mermaid", "erDiagram")]:
        rc = main(["export", EXPORT_FIXTURE, "--format", fmt])
        assert rc == 0, fmt
        out = capsys.readouterr().out
        assert probe in out, fmt
    rc = main(["export", EXPORT_FIXTURE, "--format", "dbt-staging",
               "--schema", "orders"])
    assert rc == 0
    assert "source('orders-unit-test', 'orders')" in capsys.readouterr().out
