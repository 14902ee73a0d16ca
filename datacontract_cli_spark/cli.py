"""CLI: ``python -m datacontract_cli_spark test contract.yaml [options]``.

The command surface follows the reference CLI's test command
(datacontract/command_test.py:94-247): server selection, schema-name
scoping, check/dimension/quality-id/tag filters, row filters, failed
samples, json/junit output, exit code 1 on failure.
"""

from __future__ import annotations

import argparse
import os
import sys


_INIT_TEMPLATE = """\
apiVersion: v3.1.0
kind: DataContract
id: my-data-contract
name: My Data Contract
version: 0.0.1
status: draft
servers:
  - server: local
    type: local
    format: parquet
    path: ./data/{model}.parquet
schema:
  - name: my_table
    logicalType: table
    properties:
      - name: id
        logicalType: string
        required: true
        primaryKey: true
      - name: created_at
        logicalType: timestamp
"""


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="datacontract-cli-spark")
    sub = p.add_subparsers(dest="command", required=True)

    t = sub.add_parser("test", help="test that real data conforms to a contract")
    t.add_argument("contract", help="path to the contract YAML (ODCS v3 or legacy DCS)")
    t.add_argument("--server", default=None, help="server name from the contract")
    t.add_argument("--schema", dest="schema_name", default="all",
                   help="restrict to one schema object")
    t.add_argument("--filter", dest="filters", action="append", default=None,
                   help="row-filter predicate (repeatable)")
    t.add_argument("--checks", dest="category", default=None,
                   choices=["schema", "quality", "servicelevel", "custom"])
    t.add_argument("--dimension", default=None)
    t.add_argument("--quality-id", dest="quality_id", default=None)
    t.add_argument("--tag", default=None)
    t.add_argument("--include-failed-samples", action="store_true")
    t.add_argument("--inline-references", action="store_true",
                   help="resolve authoritativeDefinitions references and "
                        "inline the fetched definitions")
    t.add_argument("--by", default=None,
                   help="also print per-slice verdicts grouped by this "
                        "column (agg-able checks, one extra aggregate)")
    t.add_argument("--output", default=None, help="write results to this path")
    t.add_argument("--output-format", default="json", choices=["json", "junit"])
    t.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS], else local[<cores>])")

    ci = sub.add_parser(
        "ci", help="run tests for CI/CD pipelines (annotations, step "
                   "summary, --fail-on exit policy)")
    ci.add_argument("locations", nargs="*", default=None,
                    help="contract YAML path(s); default datacontract.yaml")
    ci.add_argument("--server", default=None)
    ci.add_argument("--filter", dest="filters", action="append", default=None)
    ci.add_argument("--output", default=None,
                    help="write test results here (single contract only)")
    ci.add_argument("--output-format", default="json", choices=["json", "junit"])
    ci.add_argument("--json", dest="json_output", action="store_true",
                    help="print test results as JSON to stdout")
    ci.add_argument("--logs", action="store_true", help="print run logs")
    ci.add_argument("--fail-on", dest="fail_on", default="error",
                    choices=["warning", "error", "never"],
                    help="minimum severity that causes a non-zero exit code")
    ci.add_argument("--inline-references", action="store_true")
    ci.add_argument("--breaking-against", default=None, metavar="PREV_YAML",
                    help="also diff each contract against this previous "
                         "version and fail on consumer-breaking changes")
    ci.add_argument("--master", default=None)

    lint = sub.add_parser("lint", help="parse + structurally check a contract")
    lint.add_argument("contract")

    api = sub.add_parser("api", help="serve the REST API (lint/export/changelog/test)")
    api.add_argument("--host", default="127.0.0.1")
    api.add_argument("--port", type=int, default=4242)
    api.add_argument("--master", default=None)

    ed = sub.add_parser("edit", help="edit a contract in the local web editor")
    ed.add_argument("location", nargs="?", default="datacontract.yaml")
    ed.add_argument("--host", default="127.0.0.1")
    ed.add_argument("--port", type=int, default=4243)
    ed.add_argument("--open", dest="open_browser", action="store_true",
                    help="open the editor in the default browser")
    ed.add_argument("--master", default=None)

    cat = sub.add_parser("catalog", help="create an HTML catalog of contracts")
    cat.add_argument("--files", default="*.yaml",
                     help="glob pattern for contract files (recursive)")
    cat.add_argument("--output", default="catalog/",
                     help="output directory for the catalog html")

    ini = sub.add_parser("init", help="create an empty data contract")
    ini.add_argument("location", nargs="?", default="datacontract.yaml")
    ini.add_argument("--template", default=None,
                     help="path of a template contract to copy")
    ini.add_argument("--overwrite", action="store_true")

    pub = sub.add_parser("publish", help="publish the contract to a registry")
    pub.add_argument("location", nargs="?", default="datacontract.yaml")
    pub.add_argument("--host", required=True,
                     help="registry base URL (PUT {host}/api/datacontracts/{id})")
    pub.add_argument("--api-key", default=None)

    clog = sub.add_parser("changelog", help="diff two contract versions")
    clog.add_argument("v1", help="the source (before) contract YAML")
    clog.add_argument("v2", help="the target (after) contract YAML")
    clog.add_argument("--fail-on-breaking", action="store_true",
                      help="exit 1 when the diff contains consumer-breaking "
                           "changes (removals, type changes, tightened "
                           "constraints)")

    dbt = sub.add_parser(
        "dbt", help="sync contract checks into a dbt project / run them")
    dbt.add_argument("action", choices=["sync", "test"])
    dbt.add_argument("contract", help="path to the contract YAML")
    dbt.add_argument("--project-dir", required=True,
                     help="dbt project root (contains dbt_project.yml)")
    dbt.add_argument("--schema", dest="schema_name", default="all")
    dbt.add_argument("--skip-tests", action="store_true",
                     help="generate only; don't invoke the dbt binary")
    dbt.add_argument("--target", default=None, help="dbt target name")
    dbt.add_argument("--profiles-dir", default=None)

    from datacontract_cli_spark.export_registry import EXPORT_FORMATS

    exp = sub.add_parser("export", help="export the contract to another format")
    exp.add_argument("contract")
    exp.add_argument("--format", required=True, choices=EXPORT_FORMATS)
    exp.add_argument("--server", default=None,
                     help="server name (dbt adapter / bigquery resolution)")
    exp.add_argument("--template", default=None,
                     help="Jinja template path for --format custom")
    exp.add_argument("--base", default=None,
                     help="base IRI for --format rdf")
    exp.add_argument("--schema", dest="schema_name", default="all")
    exp.add_argument("--output", default=None, help="write to this path (default stdout)")

    imp = sub.add_parser("import", help="derive a contract from data or a schema")
    imp.add_argument("--format", required=True,
                     choices=["parquet", "orc", "csv", "json", "avro",
                              "jsonschema", "sql", "dbt", "bigquery", "unity",
                              "iceberg", "delta", "dbml", "protobuf",
                              "powerbi", "excel", "odcs", "dcs", "spark",
                              "s3", "gcs", "adls", "great-expectations"])
    imp.add_argument("--source", required=True,
                     help="file or schema path; for --format spark a "
                          "comma-separated list of tables/views in the "
                          "shared Spark session")
    imp.add_argument("--name", default="model", help="model name for file imports")
    imp.add_argument("--dialect", default=None,
                     help="SQL dialect for --format sql (postgres, tsql, ...)")
    imp.add_argument("--file-format", default=None,
                     choices=["csv", "delta", "json", "parquet"],
                     help="object format for --format s3|gcs|adls "
                          "(default: from the location's suffix)")
    imp.add_argument("--delimiter", default=None,
                     help="CSV delimiter for --format s3|gcs|adls")
    imp.add_argument("--endpoint-url", default=None,
                     help="S3-compatible endpoint for --format s3|gcs|adls")
    imp.add_argument("--output", default=None, help="write contract YAML here (default stdout)")
    imp.add_argument("--master", default=None)

    sug = sub.add_parser(
        "suggest",
        help="draft a contract with data-derived constraint suggestions "
             "(required / enum / range / maxLength / pattern / primaryKey)")
    sug.add_argument("--source", required=True, help="data file or directory")
    sug.add_argument("--format", default="parquet",
                     choices=["parquet", "orc", "csv", "json"])
    sug.add_argument("--name", default="model", help="model name")
    sug.add_argument("--enum-max", type=int, default=20,
                     help="suggest an enum only up to this many values")
    sug.add_argument("--no-patterns", action="store_true",
                     help="skip the regex pattern battery")
    sug.add_argument("--baselines", action="store_true",
                     help="also draft drift checks (freqDriftPsi for enum "
                          "columns, quantileDriftKs for float columns) with "
                          "baselines from the observed distributions")
    sug.add_argument("--rationale", action="store_true",
                     help="print the per-column evidence as JSON on stderr")
    sug.add_argument("--output", default=None,
                     help="write contract YAML here (default stdout)")
    sug.add_argument("--master", default=None)

    cur = sub.add_parser(
        "curate",
        help="run the training-data curation chain over a corpus "
             "(dedup → near-dedup → decontaminate → quality → PII scrub "
             "→ mixture → split → packing), resumable via checkpoints")
    cur.add_argument("--source", required=True, help="corpus file/directory")
    cur.add_argument("--format", default="parquet",
                     choices=["parquet", "orc", "csv", "json"])
    cur.add_argument("--output", required=True,
                     help="directory for the curated parquet")
    cur.add_argument("--id-col", default="doc_id")
    cur.add_argument("--text-col", default="text")
    cur.add_argument("--source-col", default="source")
    cur.add_argument("--contract", default=None,
                     help="drop rows violating this contract's row-level "
                          "checks before any content stage")
    cur.add_argument("--contract-model", default=None,
                     help="model name in --contract (default: first)")
    cur.add_argument("--benchmark", default=None,
                     help="eval-set parquet to decontaminate against")
    cur.add_argument("--lm-corpus", default=None,
                     help="reference-corpus parquet for the perplexity gate")
    cur.add_argument("--max-perplexity", type=float, default=None)
    cur.add_argument("--min-tokens", type=int, default=5)
    cur.add_argument("--line-dedup-min-len", type=int, default=None,
                     help="C4-style corpus line dedup: drop repeated "
                          "lines of at least this many chars (keep-first)")
    cur.add_argument("--max-repetition", type=float, default=0.5)
    cur.add_argument("--collapse-lines", action="store_true",
                     help="collapse within-doc consecutive duplicate "
                          "lines before corpus line-dedup")
    cur.add_argument("--dedup-spans-min-len", type=int, default=None,
                     help="cut duplicated passages of at least this many "
                          "chars from all but the first doc "
                          "(ExactSubstr-style)")
    cur.add_argument("--near-dup-threshold", type=float, default=0.85)
    cur.add_argument("--classifier-threshold", type=float, default=None)
    cur.add_argument("--no-pii-scrub", action="store_true")
    cur.add_argument("--mixture", default=None,
                     help='JSON source→weight map, e.g. \'{"web":0.6,"books":0.4}\'')
    cur.add_argument("--mixture-frac", type=float, default=1.0)
    cur.add_argument("--split", default=None,
                     help='JSON name→weight map, e.g. \'{"train":0.9,"valid":0.1}\'')
    cur.add_argument("--pack-budget", type=int, default=None)
    cur.add_argument("--checkpoint-dir", default=None,
                     help="stage checkpoints here; reruns resume")
    cur.add_argument("--report", action="store_true",
                     help="print per-stage row counts as JSON on stderr")
    cur.add_argument("--master", default=None)

    q = sub.add_parser(
        "quarantine",
        help="remove contract-violating rows from an Iceberg table: "
             "violations land in a quarantine parquet and ONE "
             "positional-delete snapshot hides them (merge-on-read)")
    q.add_argument("contract")
    q.add_argument("--table", required=True,
                   help="Iceberg table directory")
    q.add_argument("--schema-name", default=None,
                   help="model to enforce (default: first in the contract)")
    q.add_argument("--quarantine-path", default=None,
                   help="where violating rows go "
                        "(default: <table>/quarantine/)")
    q.add_argument("--dry-run", action="store_true",
                   help="report what would be quarantined; commit nothing")
    q.add_argument("--group-col", default=None,
                   help="quarantine whole groups (e.g. conversations by "
                        "conv_id): one bad row removes the entire group "
                        "via an equality-delete snapshot")
    q.add_argument("--master", default=None)

    tl = sub.add_parser(
        "tail",
        help="CDC-style: validate each Iceberg snapshot / Delta version "
             "that landed since the last poll; one JSON verdict line per "
             "snapshot, thresholds applied to the snapshot's delta counts")
    tl.add_argument("contract")
    tl.add_argument("--table", required=True,
                    help="Iceberg/Delta table directory, or a plain "
                         "parquet landing directory with --format parquet")
    tl.add_argument("--format", choices=["iceberg", "delta", "parquet"],
                    default="iceberg")
    tl.add_argument("--schema-name", default=None,
                    help="model to validate (default: first in contract)")
    tl.add_argument("--checkpoint-dir", required=True,
                    help="tailer state directory (resume point)")
    tl.add_argument("--follow", action="store_true",
                    help="keep polling every --interval seconds")
    tl.add_argument("--interval", type=float, default=30.0)
    tl.add_argument("--max-polls", type=int, default=None,
                    help="stop --follow after N polls")
    tl.add_argument("--master", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from datacontract_cli_spark.model.contract import load_contract

    if args.command == "import":
        from datacontract_cli_spark import export as _export
        from datacontract_cli_spark.sources import importers
        if args.format in ("odcs", "dcs"):
            # normalization lane: any contract document (ODCS v3 or legacy
            # DCS) loads through the resolver and re-emits as canonical ODCS
            try:
                contract = load_contract(args.source)
            except (OSError, ValueError) as e:
                print(f"error: {e}", file=sys.stderr)
                return 1
        elif args.format == "avro":
            contract = importers.import_avro_schema(args.source)
        elif args.format == "jsonschema":
            contract = importers.import_jsonschema(args.source, name=args.name)
        elif args.format == "sql":
            from datacontract_cli_spark.sources.sql_ddl import import_sql_file
            try:
                contract = import_sql_file(args.source, dialect=args.dialect)
            except (OSError, ValueError) as e:
                print(f"error: {e}", file=sys.stderr)
                return 1
        elif args.format in ("dbt", "bigquery", "unity", "iceberg", "delta",
                             "dbml", "protobuf", "powerbi", "excel",
                             "great-expectations"):
            from datacontract_cli_spark.sources.excel_import import import_excel
            from datacontract_cli_spark.sources.powerbi_import import import_powerbi_file
            from datacontract_cli_spark.sources.proto_import import import_protobuf

            def _import_protobuf_file(path):
                return import_protobuf([path])
            loaders = {"dbt": importers.import_dbt_manifest_file,
                       "great-expectations":
                           importers.import_great_expectations_file,
                       "bigquery": importers.import_bigquery_json_file,
                       "unity": importers.import_unity_json_file,
                       # a table DIRECTORY imports from live metadata
                       # (metadata/vN.metadata.json / _delta_log replay);
                       # a file stays the schema-JSON lane
                       "iceberg": (importers.import_iceberg_table
                                   if os.path.isdir(args.source)
                                   else importers.import_iceberg_json_file),
                       "delta": importers.import_delta_table,
                       "dbml": importers.import_dbml_file,
                       "protobuf": _import_protobuf_file,
                       "powerbi": import_powerbi_file,
                       "excel": import_excel}
            try:
                contract = loaders[args.format](args.source)
            except (OSError, ValueError, KeyError) as e:
                print(f"error: {e}", file=sys.stderr)
                return 1
        else:
            from datacontract_cli_spark.session import get_spark
            spark = get_spark("dcspark-import", master=args.master)
            try:
                if args.format == "spark":
                    # live-session lane: --source names tables/views in the
                    # shared session (getOrCreate reuses an active one)
                    contract = importers.import_spark(spark, source=args.source)
                elif args.format in ("s3", "gcs", "adls"):
                    contract = importers.import_object_storage(
                        spark, args.source, import_format=args.format,
                        file_format=args.file_format,
                        delimiter=args.delimiter,
                        endpoint_url=args.endpoint_url)
                else:
                    contract = importers.import_file(spark, args.source,
                                                     args.format, args.name)
            except Exception as e:
                print(f"error: {e}", file=sys.stderr)
                return 1
        text = _export.to_odcs_yaml(contract)
        if args.output:
            with open(args.output, "w", encoding="utf-8") as f:
                f.write(text)
        else:
            print(text)
        return 0

    if args.command == "suggest":
        import json as _json

        from datacontract_cli_spark import export as _export
        from datacontract_cli_spark.session import get_spark
        from datacontract_cli_spark.suggest import suggest_contract

        spark = get_spark("dcspark-suggest", master=args.master)
        try:
            reader = {"parquet": spark.read.parquet,
                      "orc": spark.read.orc,
                      "json": spark.read.json,
                      "csv": lambda p: spark.read.option("header", "true")
                      .option("inferSchema", "true").csv(p)}[args.format]
            df = reader(args.source)
            contract, rationale = suggest_contract(
                spark, df, args.name, fmt=args.format, path=args.source,
                enum_max=args.enum_max,
                detect_patterns=not args.no_patterns,
                drift_baselines=args.baselines)
        except Exception as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        text = _export.to_odcs_yaml(contract)
        if args.output:
            with open(args.output, "w", encoding="utf-8") as f:
                f.write(text)
        else:
            print(text)
        if args.rationale:
            print(_json.dumps(rationale, indent=2, default=str), file=sys.stderr)
        return 0

    if args.command == "curate":
        import json as _json

        from datacontract_cli_spark.pipeline import (
            CurationReport, curate_corpus)
        from datacontract_cli_spark.session import get_spark

        spark = get_spark("dcspark-curate", master=args.master)
        try:
            reader = {"parquet": spark.read.parquet,
                      "orc": spark.read.orc,
                      "json": spark.read.json,
                      "csv": lambda p: spark.read.option("header", "true")
                      .option("inferSchema", "true").csv(p)}[args.format]
            docs = reader(args.source)
            report = CurationReport() if args.report else None
            out = curate_corpus(
                docs,
                contract=(load_contract(args.contract)
                          if args.contract else None),
                contract_model=args.contract_model,
                id_col=args.id_col, text_col=args.text_col,
                benchmark=(spark.read.parquet(args.benchmark)
                           if args.benchmark else None),
                lm_corpus=(spark.read.parquet(args.lm_corpus)
                           if args.lm_corpus else None),
                max_perplexity=args.max_perplexity,
                min_tokens=args.min_tokens,
                line_dedup_min_len=args.line_dedup_min_len,
                collapse_lines=args.collapse_lines,
                dedup_spans_min_len=args.dedup_spans_min_len,
                max_repetition=args.max_repetition,
                near_dup_threshold=args.near_dup_threshold,
                classifier_threshold=args.classifier_threshold,
                scrub_pii=not args.no_pii_scrub,
                mixture_targets=(_json.loads(args.mixture)
                                 if args.mixture else None),
                mixture_frac=args.mixture_frac,
                source_col=args.source_col,
                split_weights=(_json.loads(args.split)
                               if args.split else None),
                pack_budget=args.pack_budget,
                checkpoint_dir=args.checkpoint_dir,
                report=report,
            )
            # partitioned layout: split (and bins stream whole) when present
            writer = out.write.mode("overwrite")
            if args.split:
                writer = writer.partitionBy("split")
            writer.parquet(args.output)
        except Exception as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        if report is not None:
            print(_json.dumps(report.to_rows()), file=sys.stderr)
        print(f"curated corpus written to {args.output}")
        return 0

    if args.command == "quarantine":
        import json as _json

        from datacontract_cli_spark.operators.quarantine import (
            quarantine_violations,
        )
        from datacontract_cli_spark.session import get_spark

        try:
            contract = load_contract(args.contract)
        except (OSError, ValueError) as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        model = args.schema_name or contract.schema_objects[0].name
        spark = get_spark("dcspark-quarantine", master=args.master)
        try:
            rep = quarantine_violations(
                spark, args.table, contract, model,
                quarantine_path=args.quarantine_path,
                dry_run=args.dry_run, group_col=args.group_col)
        except Exception as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        print(_json.dumps({
            "dry_run": args.dry_run,
            "quarantined_rows": rep.quarantined_rows,
            "quarantined_groups": rep.quarantined_groups,
            "counts_by_check": rep.counts_by_check,
            "snapshot_id": rep.snapshot_id,
            "quarantine_path": rep.quarantine_path,
            "checks_applied": rep.checks_applied,
        }))
        return 0

    if args.command == "tail":
        import json as _json
        import time as _time

        from datacontract_cli_spark.engine.executor import SparkContractEngine
        from datacontract_cli_spark.output import writers
        from datacontract_cli_spark.session import get_spark

        try:
            contract = load_contract(args.contract)
        except (OSError, ValueError) as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        model = args.schema_name or contract.schema_objects[0].name
        spark = get_spark("dcspark-tail", master=args.master)
        engine = SparkContractEngine(spark)
        any_failed = False
        polls = 0
        while True:
            try:
                verdicts = engine.tail(contract, args.table, model,
                                       args.checkpoint_dir,
                                       table_format=args.format)
            except Exception as e:
                print(f"error: {e}", file=sys.stderr)
                return 1
            for sid, run, result in verdicts:
                # an error Check (a rule the lane cannot evaluate, an
                # unreadable version) fails closed like a failed one
                if writers.exit_code(run):
                    any_failed = True
                key = {"iceberg": "snapshot_id", "delta": "version",
                       "parquet": "poll"}[args.format]
                line = {
                    key: sid,
                    "result": run.result.value,
                    "new_files": len(result["new_files"]),
                    "checks": [{"key": c.key, "result":
                                c.result.value if c.result else None,
                                "value": (c.diagnostics or {}).get("value")}
                               for c in run.checks],
                }
                if result.get("error"):
                    line["error"] = result["error"]
                if result.get("data_change") is False:
                    line["data_change"] = False
                print(_json.dumps(line), flush=True)
            polls += 1
            if not args.follow or (args.max_polls is not None
                                   and polls >= args.max_polls):
                break
            _time.sleep(args.interval)
        return 1 if any_failed else 0

    if args.command == "export":
        from datacontract_cli_spark.export_registry import export_contract
        try:
            contract = load_contract(args.contract)
        except Exception as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        try:
            text = export_contract(contract, args.format,
                                   schema_name=args.schema_name,
                                   server=args.server,
                                   template=args.template,
                                   base=args.base)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        if isinstance(text, bytes):
            if not args.output:
                print("error: --format excel writes a binary workbook; "
                      "pass --output <file.xlsx>", file=sys.stderr)
                return 1
            with open(args.output, "wb") as f:
                f.write(text)
        elif args.output:
            with open(args.output, "w", encoding="utf-8") as f:
                f.write(text)
        else:
            print(text)
        return 0

    if args.command == "api":
        from datacontract_cli_spark.api import main as api_main
        api_main(host=args.host, port=args.port, master=args.master)
        return 0

    if args.command == "edit":
        from datacontract_cli_spark.editor import main as editor_main
        return editor_main(location=args.location, host=args.host,
                           port=args.port, master=args.master,
                           open_browser=args.open_browser)

    if args.command == "catalog":
        from datacontract_cli_spark.catalog import build_catalog
        build_catalog(files=args.files, output=args.output)
        return 0

    if args.command == "init":
        import os as _os
        if not args.overwrite and _os.path.exists(args.location):
            print("File already exists, use --overwrite to overwrite")
            return 1
        if args.template:
            with open(args.template, "r", encoding="utf-8") as f:
                text = f.read()
        else:
            text = _INIT_TEMPLATE
        with open(args.location, "w", encoding="utf-8") as f:
            f.write(text)
        print(f"data contract written to {args.location}")
        return 0

    if args.command == "publish":
        import yaml as _yaml

        from datacontract_cli_spark.output.publish import publish_data_contract
        try:
            with open(args.location, "r", encoding="utf-8") as f:
                doc = _yaml.safe_load(f.read())
            load_contract(args.location)  # must parse as a contract
        except Exception as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        ok = publish_data_contract(doc, args.host, api_key=args.api_key)
        print("Published data contract successfully" if ok
              else "Failed publishing data contract")
        return 0 if ok else 1

    if args.command == "dbt":
        from pathlib import Path

        from datacontract_cli_spark.integration import dbt_sync
        from datacontract_cli_spark.output import writers
        try:
            contract = load_contract(args.contract)
        except (OSError, ValueError) as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        project_dir = Path(args.project_dir)
        try:
            if args.action == "sync":
                gen = dbt_sync.write_dbt_tests(contract, project_dir,
                                               schema_name=args.schema_name)
                for p in gen.written_yaml + gen.written_sql:
                    print(f"wrote {p}")
                for log in gen.generation_run.logs:
                    print(f"{log.level}: {log.message}")
                if args.skip_tests:
                    return 0
                dbt_sync.run_dbt_test(project_dir, target=args.target,
                                      profiles_dir=args.profiles_dir)
                run = dbt_sync.parse_dbt_test_run(
                    project_dir, contract,
                    generation_run=gen.generation_run)
            else:  # test
                dbt_sync.run_dbt_test(project_dir, target=args.target,
                                      profiles_dir=args.profiles_dir)
                run = dbt_sync.parse_dbt_test_run(project_dir, contract)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        print(writers.console_table(run))
        return writers.exit_code(run)

    if args.command == "ci":
        from datacontract_cli_spark.engine.executor import SparkContractEngine
        from datacontract_cli_spark.output import ci as ci_out
        from datacontract_cli_spark.output import writers
        from datacontract_cli_spark.session import get_spark

        locations = args.locations or ["datacontract.yaml"]
        if args.output and len(locations) > 1:
            print("error: --output cannot be used with multiple contracts "
                  "(results would overwrite each other)", file=sys.stderr)
            return 1
        # with --json, human-readable progress goes to stderr so stdout
        # stays machine-parseable (reference command_ci.py:103-105)
        human = sys.stderr if args.json_output else sys.stdout
        spark = get_spark("datacontract-ci", master=args.master)
        engine = SparkContractEngine(spark)
        results = []
        for location in locations:
            print(f"Testing {location}", file=human)
            try:
                contract = load_contract(
                    location, inline_references=args.inline_references)
                run = engine.test(contract, server=args.server,
                                  filters=args.filters)
            except (OSError, ValueError) as e:
                from datacontract_cli_spark.model.run import ResultEnum, Run
                run = Run(result=ResultEnum.error)
                run.log_error(str(e))
            if args.logs:
                for log in run.logs:
                    print(f"{log.timestamp} {log.level} {log.message}",
                          file=human)
            results.append((location, run))
            ci_out.write_annotations(run, location, out=human)
            if args.output:
                if args.output_format == "junit":
                    writers.write_junit(run, args.output)
                else:
                    writers.write_json(run, args.output)
        ci_out.write_summary(results)
        if args.json_output:
            print(ci_out.json_results(results))
        failed = ci_out.should_fail(results, args.fail_on)
        if args.breaking_against:
            from datacontract_cli_spark.changelog import (
                breaking_changes,
                build_changelog,
            )
            for location in locations:
                try:
                    diff = build_changelog(args.breaking_against, location)
                except (OSError, ValueError) as e:
                    print(f"error: {e}", file=sys.stderr)
                    return 1
                breaking = breaking_changes(diff)
                if breaking:
                    print(f"{location}: {len(breaking)} breaking "
                          "change(s) vs previous version:", file=human)
                    for e in breaking:
                        print(f"  {e.type.value}: {e.path}", file=human)
                    failed = True
        return 1 if failed else 0

    if args.command == "changelog":
        from datacontract_cli_spark.changelog import (
            breaking_changes,
            build_changelog,
            render_text,
        )
        try:
            result = build_changelog(args.v1, args.v2)
        except (OSError, ValueError) as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        print(render_text(result))
        if args.fail_on_breaking:
            breaking = breaking_changes(result)
            if breaking:
                print(f"{len(breaking)} breaking change(s):", file=sys.stderr)
                for e in breaking:
                    print(f"  {e.type.value}: {e.path}", file=sys.stderr)
                return 1
        return 0

    if args.command == "lint":
        from datacontract_cli_spark.model.lint import lint_file
        try:
            problems = lint_file(args.contract)
        except OSError as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        if problems:
            for p in problems:
                print(f"invalid: {p}", file=sys.stderr)
            return 1
        try:
            contract = load_contract(args.contract)
        except Exception as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        n_props = sum(len(o.properties) for o in contract.schema_objects)
        print(f"OK: {len(contract.schema_objects)} schema object(s), "
              f"{n_props} properties, {len(contract.servers)} server(s)")
        return 0

    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.output import writers
    from datacontract_cli_spark.session import get_spark

    try:
        contract = load_contract(args.contract,
                                 inline_references=args.inline_references)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    spark = get_spark("datacontract-test", master=args.master)
    engine = SparkContractEngine(spark, include_failed_samples=args.include_failed_samples)
    run = engine.test(
        contract,
        server=args.server,
        schema_name=args.schema_name,
        filters=args.filters,
        checks_category=args.category,
        dimension=args.dimension,
        quality_id=args.quality_id,
        tag=args.tag,
    )
    print(writers.console_table(run))
    if args.by:
        from datacontract_cli_spark.engine.sliced import sliced_validation
        # reuse the frames engine.test already bound — binding again
        # would re-run metadata planning and re-read every model table
        tables = getattr(engine, "last_tables", None) or {}
        if not tables:
            print("--by: no bound server tables (binding failed above)",
                  file=sys.stderr)
        lowered = {k.lower(): v for k, v in tables.items()}
        for obj in contract.schema_objects:
            if args.schema_name not in ("all", obj.name):
                continue
            df = lowered.get(obj.name.lower())
            if df is None:
                continue
            if args.by not in df.columns:
                print(f"--by: column '{args.by}' not in model "
                      f"{obj.name}; skipped", file=sys.stderr)
                continue
            rows = (sliced_validation(df, contract, obj.name, [args.by])
                    .orderBy(args.by, "check_key").collect())
            if not rows:
                continue
            print(f"\nper-slice verdicts — {obj.name} by {args.by}:")
            for r in rows:
                mark = "pass" if r["passed"] else "FAIL"
                val = ("null" if r["metric_value"] is None
                       else f"{r['metric_value']:g}")
                print(f"  {mark}  {args.by}={r[args.by]}  "
                      f"{r['check_key']}  value={val}")
            n_bad = sum(1 for r in rows if not r["passed"])
            print(f"  {n_bad}/{len(rows)} slice-checks failing")
    if args.output:
        if args.output_format == "junit":
            writers.write_junit(run, args.output)
        else:
            writers.write_json(run, args.output)
        print(f"results written to {args.output}")
    return writers.exit_code(run)


if __name__ == "__main__":
    sys.exit(main())
