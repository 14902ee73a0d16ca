"""Changelog tests — the reference's tests/test_changelog.py expectations
(run against the reference's own integration fixtures) plus diff-engine
unit cases for the normalization and rollup rules."""

import os

import pytest

from datacontract_cli_spark.changelog import (
    ChangelogType,
    build_changelog,
    diff_contracts,
    normalize,
    render_text,
)

V1 = "/root/reference/tests/fixtures/changelog/integration/changelog_integration_v1.yaml"
V2 = "/root/reference/tests/fixtures/changelog/integration/changelog_integration_v2.yaml"
needs_reference = pytest.mark.skipif(
    not (os.path.exists(V1) and os.path.exists(V2)),
    reason="reference fixtures not available")


@needs_reference
def test_changelog_has_changes():
    assert build_changelog(V1, V2).has_changes()


@needs_reference
def test_changelog_no_changes():
    result = build_changelog(V1, V1)
    assert not result.has_changes()
    assert result.entries == [] and result.summary == []


@needs_reference
def test_changelog_entry_types():
    types = {e.type for e in build_changelog(V1, V2).entries}
    assert types == {ChangelogType.added, ChangelogType.removed, ChangelogType.updated}


@needs_reference
def test_changelog_summary_is_rolled_up():
    result = build_changelog(V1, V2)
    assert len(result.summary) < len(result.entries)


@needs_reference
def test_changelog_summary_paths_match_reference_golden():
    paths = [e.path for e in build_changelog(V1, V2).summary]
    # the exact summary table of the reference's golden_changelog_text.txt
    assert paths == [
        "schema.customers",
        "schema.orders.properties.customer_id",
        "schema.orders.properties.order_date",
        "schema.orders.properties.order_id",
        "schema.orders.properties.region",
        "schema.orders.properties.total_amount",
        "slaProperties.availability",
        "version",
    ]
    result = build_changelog(V1, V2)
    assert result.counts("summary") == {"added": 2, "updated": 5, "removed": 1}


@needs_reference
def test_changelog_entry_values():
    changed = [e for e in build_changelog(V1, V2).entries
               if e.path == "schema.orders.properties.order_date.logicalType"]
    assert len(changed) == 1
    assert changed[0].type is ChangelogType.updated
    assert (changed[0].old_value, changed[0].new_value) == ("string", "date")


@needs_reference
def test_changelog_labels():
    result = build_changelog(V1, V2)
    assert result.v1 == V1 and result.v2 == V2


def test_normalize_keys_lists_semantically():
    doc = {"schema": [
        {"name": "orders", "properties": [{"name": "id", "logicalType": "string"}]},
        {"name": "customers", "properties": []},
    ]}
    n = normalize(doc)
    assert set(n["schema"]) == {"orders", "customers"}
    assert n["schema"]["orders"]["properties"]["id"] == {"logicalType": "string"}


def test_insertion_mid_list_is_not_a_spurious_update():
    v1 = {"schema": [{"name": "orders", "physicalType": "table"}]}
    v2 = {"schema": [{"name": "customers", "physicalType": "view"},
                     {"name": "orders", "physicalType": "table"}]}
    result = diff_contracts(v1, v2)
    assert [(e.path, e.type) for e in result.summary] == \
        [("schema.customers", ChangelogType.added)]


def test_scalar_list_items_diff_as_sets():
    v1 = {"tags": ["pii", "core"]}
    v2 = {"tags": ["core", "new"]}
    result = diff_contracts(v1, v2)
    detail = {(e.path, e.type) for e in result.entries}
    assert detail == {("tags.pii", ChangelogType.removed),
                      ("tags.new", ChangelogType.added)}
    # summary rolls list items up to the list path; add+remove -> Updated
    assert [(e.path, e.type) for e in result.summary] == \
        [("tags", ChangelogType.updated)]


def test_mixed_add_remove_on_same_parent_becomes_updated():
    v1 = {"schema": [{"name": "t", "properties": [
        {"name": "a", "logicalType": "string", "businessName": "Old"}]}]}
    v2 = {"schema": [{"name": "t", "properties": [
        {"name": "a", "logicalType": "string", "classification": "pii"}]}]}
    result = diff_contracts(v1, v2)
    assert [(e.path, e.type) for e in result.summary] == \
        [("schema.t.properties.a", ChangelogType.updated)]


@needs_reference
def test_render_text_contains_tables():
    text = render_text(build_changelog(V1, V2))
    assert "Summary" in text and "Details" in text
    assert "[ 2 Added ]  [ 5 Updated ]  [ 1 Removed ]" in text
    assert "schema.customers.properties.email.classification" in text


@needs_reference
def test_cli_changelog(capsys):
    from datacontract_cli_spark.cli import main
    assert main(["changelog", V1, V2]) == 0
    out = capsys.readouterr().out
    assert "schema.customers" in out
    assert main(["changelog", V1, "/nonexistent.yaml"]) == 1


# ---------------------------------------------------------------------------
# property-based invariants
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def contract_doc(draw):
    n_models = draw(st.integers(0, 3))
    names = [f"m{i}" for i in range(n_models)]
    schema = []
    for name in draw(st.permutations(names)):
        props = []
        for p in range(draw(st.integers(0, 3))):
            prop = {"name": f"p{p}"}
            if draw(st.booleans()):
                prop["logicalType"] = draw(st.sampled_from(
                    ["string", "integer", "number"]))
            if draw(st.booleans()):
                prop["required"] = draw(st.booleans())
            props.append(prop)
        schema.append({"name": name, "properties": props})
    doc = {"id": "x", "version": draw(st.sampled_from(["1.0", "2.0"])),
           "schema": schema}
    if draw(st.booleans()):
        doc["tags"] = draw(st.lists(st.sampled_from(["a", "b", "c"]),
                                    max_size=3, unique=True))
    return doc


@settings(max_examples=80, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(doc=contract_doc())
def test_diff_self_is_empty(doc):
    result = diff_contracts(doc, doc)
    assert result.entries == [] and result.summary == []


@settings(max_examples=80, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(a=contract_doc(), b=contract_doc())
def test_diff_is_antisymmetric(a, b):
    """diff(b, a) must be diff(a, b) with Added<->Removed swapped and
    Updated old/new values exchanged, entry for entry."""
    fwd = diff_contracts(a, b)
    rev = diff_contracts(b, a)
    flip = {ChangelogType.added: ChangelogType.removed,
            ChangelogType.removed: ChangelogType.added,
            ChangelogType.updated: ChangelogType.updated}
    fwd_set = {(e.path, e.type, repr(e.old_value), repr(e.new_value))
               for e in fwd.entries}
    rev_flipped = {(e.path, flip[e.type], repr(e.new_value), repr(e.old_value))
                   for e in rev.entries}
    assert fwd_set == rev_flipped
    assert {(e.path, flip[e.type]) for e in rev.summary} == \
        {(e.path, e.type) for e in fwd.summary}


# --- breaking-change classification ------------------------------------------

def test_breaking_change_classification(tmp_path):
    from datacontract_cli_spark.changelog import (
        breaking_changes,
        build_changelog,
    )
    v1 = tmp_path / "v1.yaml"
    v2 = tmp_path / "v2.yaml"
    v1.write_text("""
apiVersion: v3.1.0
kind: DataContract
id: c
version: 1.0.0
status: active
schema:
  - name: t
    properties:
      - name: a
        logicalType: integer
      - name: b
        logicalType: string
        logicalTypeOptions: {maxLength: 100}
      - name: dropped
        logicalType: string
""")
    v2.write_text("""
apiVersion: v3.1.0
kind: DataContract
id: c
version: 2.0.0
status: active
schema:
  - name: t
    properties:
      - name: a
        logicalType: string
        required: true
      - name: b
        logicalType: string
        logicalTypeOptions: {maxLength: 50}
      - name: brand_new
        logicalType: string
""")
    result = build_changelog(str(v1), str(v2))
    breaking = breaking_changes(result)
    paths = {(e.type.value, e.path) for e in breaking}
    joined = " | ".join(p for _, p in paths)
    # type change, new required, tightened maxLength, removed property break
    assert "logicalType" in joined
    assert "required" in joined
    assert "maxLength" in joined
    assert any("dropped" in p for _, p in paths)
    # the purely additive property is NOT breaking
    assert not any("brand_new" in p and t != "Added" for t, p in paths)
    assert not any("brand_new" in p and "required" not in p
                   for t, p in paths)
    # version bump itself is not breaking
    assert not any(p == "version" for _, p in paths)


def test_removed_property_named_like_attribute_is_breaking(tmp_path):
    # ADVICE r4: columns literally named 'description' / 'tags' / 'pattern'
    # must still classify as breaking when REMOVED — the verdict is
    # structural (node position), not substring matching over the path.
    from datacontract_cli_spark.changelog import breaking_changes, build_changelog
    v1 = tmp_path / "v1.yaml"
    v2 = tmp_path / "v2.yaml"
    v1.write_text("""
apiVersion: v3.1.0
kind: DataContract
id: c
version: 1.0.0
status: active
schema:
  - name: t
    properties:
      - name: description
        logicalType: string
      - name: tags
        logicalType: string
      - name: keep
        logicalType: integer
        logicalTypeOptions: {maximum: 10}
        quality:
          - type: sql
            query: SELECT 1
""")
    v2.write_text("""
apiVersion: v3.1.0
kind: DataContract
id: c
version: 2.0.0
status: active
schema:
  - name: t
    properties:
      - name: keep
        logicalType: integer
""")
    breaking = breaking_changes(build_changelog(str(v1), str(v2)))
    paths = {e.path for e in breaking}
    assert "schema.t.properties.description" in paths
    assert "schema.t.properties.tags" in paths
    # removing a constraint ATTRIBUTE (maximum) or quality block only loosens
    assert not any(p.startswith("schema.t.properties.keep") for p in paths)


def test_cli_changelog_fail_on_breaking(tmp_path):
    import os as _os
    import subprocess
    import sys as _sys

    REPO = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))

    v1 = tmp_path / "v1.yaml"
    v2 = tmp_path / "v2.yaml"
    base = """
apiVersion: v3.1.0
kind: DataContract
id: c
version: {v}
status: active
schema:
  - name: t
    properties:
      - name: a
        logicalType: {t}
"""
    v1.write_text(base.format(v="1.0.0", t="integer"))
    v2.write_text(base.format(v="1.1.0", t="string"))
    proc = subprocess.run(
        [_sys.executable, "-m", "datacontract_cli_spark", "changelog",
         str(v1), str(v2), "--fail-on-breaking"],
        capture_output=True, text=True, cwd=REPO, timeout=120)
    assert proc.returncode == 1
    assert "breaking change" in proc.stderr
    # additive-only diff passes
    v2.write_text(base.format(v="1.1.0", t="integer").replace(
        "        logicalType: integer",
        "        logicalType: integer\n      - name: extra\n"
        "        logicalType: string"))
    proc = subprocess.run(
        [_sys.executable, "-m", "datacontract_cli_spark", "changelog",
         str(v1), str(v2), "--fail-on-breaking"],
        capture_output=True, text=True, cwd=REPO, timeout=120)
    assert proc.returncode == 0, proc.stderr
