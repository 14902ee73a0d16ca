"""CLI surface for the quarantine lane."""

import json

from datacontract_cli_spark.cli import main
from datacontract_cli_spark.sources.iceberg_table import read_iceberg

from tests.test_quarantine import CONTRACT, _table


def test_cli_quarantine(spark, tmp_path, capsys):
    root = _table(spark, tmp_path)
    cpath = tmp_path / "contract.yaml"
    cpath.write_text(CONTRACT)

    assert main(["quarantine", str(cpath), "--table", root,
                 "--dry-run"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["dry_run"] is True and rep["quarantined_rows"] == 4
    assert read_iceberg(spark, root).count() == 44

    assert main(["quarantine", str(cpath), "--table", root]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["quarantined_rows"] == 4
    assert rep["snapshot_id"] is not None
    assert len(rep["counts_by_check"]) == 4
    assert read_iceberg(spark, root).count() == 40
