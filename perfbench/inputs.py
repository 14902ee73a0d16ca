"""Seeded input generation and reference answers, cached on disk.

All inputs are generated without Spark (DuckDB and NumPy), so a run's
Spark session is always the first JVM work of its process. Each input set
lives in ``.perfbench/data/<input><size>-s<seed>`` and is written once; a
``ready.json`` marker holds the reference answers computed from the same
files, so a half-written directory is regenerated.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import duckdb
import numpy as np

from perfbench.common import DATA, ROOT, nproc

# validate_transcripts: 125k conversations x 8 turns (1M turns)
N_CONVS = 125_000
TURNS = 8
DEFECT_PPM = 10_000  # defect_rate 0.01
ROLES = ["system", "user", "assistant", "tool"]
TOOLS = ["search", "calculator", "browser", "python", "sql"]
WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
         "oscar", "papa"]

# cli_wide: 100k clean rows, 40 constrained columns (199 checks)
WIDE_ROWS = 100_000
WIDE_COLS = 40
COLORS = ["red", "green", "blue", "cyan", "gray"]

# curate_docs: the sf0.1 documents table (5000 docs, seed 42), shipped with
# the benchmark so a run reads nothing outside its checkout
DOCS_CORPUS = os.path.join(ROOT, "perfbench", "data", "sf0.1-documents.parquet")
LANGS = ["en", "de", "fr", "es", "zh"]
N_EVAL = 40


def _cached(name: str, seed: int, build) -> tuple[str, dict]:
    """Return (dir, reference) for one input set, building it on a miss.
    The build time is recorded in the reference as ``gen_s``."""
    d = os.path.join(DATA, f"{name}-s{seed}")
    marker = os.path.join(d, "ready.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.perf_counter()
    ref = build(d, seed)
    ref["gen_s"] = time.perf_counter() - t0
    with open(marker + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(marker + ".tmp", marker)
    return d, ref


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={nproc()}")
    con.execute(f"SET temp_directory='{os.path.join(DATA, 'duckdb-tmp')}'")
    return con


def _sql_list(values) -> str:
    return "[" + ", ".join(f"'{v}'" for v in values) + "]"


# ---------------------------------------------------------------------------
# validate_transcripts
# ---------------------------------------------------------------------------

def transcripts(seed: int) -> tuple[str, dict]:
    return _cached(f"transcripts{N_CONVS * TURNS}", seed, _build_transcripts)


def _build_transcripts(d: str, seed: int) -> dict:
    """The synthesized transcripts shape (conv_id, turn_idx, role, text,
    tool, ts) with 1% planted defects — orphan conv_ids, duplicate
    (conv_id, turn_idx) keys, NULL roles and out-of-enum roles — plus the
    defect-free conversations table the orphans are measured against."""
    n = N_CONVS * TURNS
    cut = DEFECT_PPM
    con = _duck()
    con.execute(f"""
        CREATE VIEW clean AS
        SELECT id // {TURNS} AS conv_num, (id % {TURNS})::INTEGER AS turn_idx,
               hash(id, {seed}) AS h, hash(id, {seed} + 1) AS h1,
               hash(id, {seed} + 2) AS h2
        FROM range({n}) t(id)""")
    con.execute(f"""
        CREATE VIEW rows AS
        SELECT 'conv-' || lpad(conv_num::VARCHAR, 10, '0') AS conv_id, turn_idx,
               CASE WHEN turn_idx = 0 THEN 'system' WHEN h % 10 < 2 THEN 'tool'
                    WHEN turn_idx % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
               'turn ' || turn_idx::VARCHAR || ': ' ||
                 rtrim(repeat(list_element({_sql_list(WORDS)}, (h1 % {len(WORDS)} + 1)::INTEGER) || ' ',
                              (h % 38 + 3)::INTEGER)) AS text,
               h2, conv_num
        FROM clean""")
    path = os.path.join(d, "transcripts.parquet")
    con.execute(f"""
        COPY (
          SELECT CASE WHEN g < {cut // 4} THEN 'orphan-' || conv_id ELSE conv_id END AS conv_id,
                 CASE WHEN g >= {cut // 4} AND g < {cut // 2} THEN 1 ELSE turn_idx END AS turn_idx,
                 CASE WHEN g >= {cut // 2} AND g < {3 * cut // 4} THEN NULL
                      WHEN g >= {3 * cut // 4} AND g < {cut} THEN 'robot'
                      ELSE role END AS role,
                 text,
                 CASE WHEN role = 'tool' THEN list_element({_sql_list(TOOLS)}, (h2 % 5 + 1)::INTEGER) END AS tool,
                 to_timestamp(1700000000 + conv_num * 3600 + turn_idx * 30) AS ts
          FROM (SELECT *, hash(conv_id, turn_idx, {seed} + 3) % 1000000 AS g FROM rows)
        ) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 65536)""")
    conv = os.path.join(d, "conversations.parquet")
    con.execute(f"""
        COPY (SELECT 'conv-' || lpad(i::VARCHAR, 10, '0') AS conv_id
              FROM range({N_CONVS}) t(i))
        TO '{conv}' (FORMAT PARQUET)""")
    enum = _sql_list(ROLES)
    ref = con.execute(f"""
        SELECT count(*),
               count(*) FILTER (WHERE role IS NULL),
               count(*) FILTER (WHERE role IS NOT NULL AND NOT list_contains({enum}, role)),
               count(*) FILTER (WHERE NOT regexp_full_match(conv_id, '^conv-[0-9]{{10}}$')),
               count(*) FILTER (WHERE conv_id NOT IN (SELECT conv_id FROM read_parquet('{conv}')))
        FROM read_parquet('{path}')""").fetchone()
    dups = con.execute(f"""
        SELECT count(*) FROM (SELECT conv_id, turn_idx FROM read_parquet('{path}')
                              GROUP BY ALL HAVING count(*) > 1)""").fetchone()[0]
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    text_q = con.execute(
        f"SELECT quantile_cont(length(text), {qs}) FROM read_parquet('{path}')"
    ).fetchone()[0]
    con.close()
    return {
        "rows": ref[0],
        "counts": {
            "transcripts__row_count": ref[0],
            "transcripts__role__field_required": ref[1],
            "transcripts__role__field_enum": ref[2],
            "transcripts__conv_id__field_regex": ref[3],
            "transcripts__conv_id__referential_integrity": ref[4],
            "transcripts__primary_key_unique": dups,
        },
        "text_len_quantiles": {str(q): float(v) for q, v in zip(qs, text_q)},
    }


def transcripts_contract(d: str, ref: dict) -> str:
    """The north-star suite (tests/fixtures/transcripts_contract.yaml) plus
    role-frequency PSI, text-length t-digest KS, a text-length p99 and
    conv_id referential integrity; written next to the data."""
    import yaml

    with open(os.path.join(ROOT, "tests", "fixtures",
                           "transcripts_contract.yaml")) as f:
        doc = yaml.safe_load(f)
    props = doc["schema"][0]["properties"]
    by_name = {p["name"]: p for p in props}
    by_name["role"].setdefault("quality", []).append({
        "type": "library", "metric": "freqDriftPsi", "mustBeLessThan": 0.25,
        "arguments": {"baseline": {"system": 0.125, "user": 0.4,
                                   "assistant": 0.3, "tool": 0.175}}})
    by_name["conv_id"].setdefault("quality", []).append({
        "type": "library", "metric": "referentialIntegrity", "mustBe": 0,
        "arguments": {"ref": "conversations.conv_id"}})
    props.append({"name": "text_len", "logicalType": "number", "quality": [
        {"type": "library", "metric": "quantileDriftKs", "mustBeLessThan": 0.2,
         "arguments": {"baseline": {"quantiles": ref["text_len_quantiles"],
                                    "use_tdigest": True}}},
        {"type": "library", "metric": "quantile", "mustBeLessThan": 400,
         "arguments": {"quantile": 0.99}}]})
    path = os.path.join(d, "contract.yaml")
    with open(path, "w") as f:
        yaml.safe_dump(doc, f, sort_keys=False)
    return path


# ---------------------------------------------------------------------------
# cli_wide
# ---------------------------------------------------------------------------

def _wide_column(i: int) -> tuple[str, dict, str]:
    """(name, property, DuckDB expression) of constrained column ``i``;
    five kinds cycle so every predicate family is compiled."""
    name, h = f"c{i:02d}", f"hash(id, $seed, {i})"
    kind = i % 5
    if kind == 0:
        return name, {"logicalType": "string", "required": True,
                      "logicalTypeOptions": {"enum": COLORS}}, \
            f"list_element({_sql_list(COLORS)}, ({h} % 5 + 1)::INTEGER)"
    if kind == 1:
        return name, {"logicalType": "string", "required": True,
                      "logicalTypeOptions": {"pattern": "^ID-[0-9]{6}$",
                                             "maxLength": 9}}, \
            f"'ID-' || lpad(({h} % 1000000)::VARCHAR, 6, '0')"
    if kind == 2:
        return name, {"logicalType": "integer", "required": True,
                      "logicalTypeOptions": {"minimum": 0, "maximum": 999}}, \
            f"({h} % 1000)::INTEGER"
    if kind == 3:
        return name, {"logicalType": "number", "required": True,
                      "logicalTypeOptions": {"minimum": 0, "maximum": 1000}}, \
            f"({h} % 100000)::DOUBLE / 100.0"
    return name, {"logicalType": "string", "required": True,
                  "logicalTypeOptions": {"maxLength": 32}}, \
        f"repeat('x', ({h} % 20 + 1)::INTEGER)"


def wide(seed: int) -> tuple[str, dict]:
    return _cached(f"wide{WIDE_ROWS}x{WIDE_COLS}", seed, _build_wide)


def _build_wide(d: str, seed: int) -> dict:
    cols = [_wide_column(i) for i in range(WIDE_COLS)]
    exprs = ", ".join(e.replace("$seed", str(seed)) + f" AS {n}"
                      for n, _, e in cols)
    con = _duck()
    con.execute(f"""
        COPY (SELECT id, (id % 7)::INTEGER AS part, {exprs} FROM range({WIDE_ROWS}) t(id))
        TO '{os.path.join(d, "wide.parquet")}' (FORMAT PARQUET)""")
    con.close()
    return {"rows": WIDE_ROWS}


def wide_contract(d: str) -> tuple[str, int]:
    """Write the >=100-check contract for the wide table; returns its path
    and the number of checks its rules declare, counted independently of
    the compiler: per property one presence and one type check, one per
    constraint keyword (required, enum, pattern, minimum, maximum,
    maxLength) and one per quality rule; one per model-level rule."""
    import yaml

    props = [{"name": "id", "logicalType": "integer", "required": True},
             {"name": "part", "logicalType": "integer", "required": True}]
    for i in range(WIDE_COLS):
        name, prop, _ = _wide_column(i)
        props.append({"name": name, **prop})
    by_name = {p["name"]: p for p in props}
    for name in ("c00", "c04", "c09", "c14"):
        by_name[name]["quality"] = [{
            "type": "library", "metric": "nullValues", "mustBeLessThan": 1,
            "unit": "percent"}]
    by_name["c05"]["quality"] = [{
        "type": "library", "metric": "invalidValues", "mustBe": 0,
        "arguments": {"validValues": COLORS}}]
    by_name["c07"]["quality"] = [{
        "type": "library", "metric": "quantile", "mustBeLessThan": 1000,
        "arguments": {"quantile": 0.5}}]
    model_rules = [
        {"type": "library", "metric": "rowCount", "mustBeGreaterThan": 0},
        {"type": "library", "metric": "duplicateValues", "mustBe": 0,
         "arguments": {"properties": ["id", "part"]}},
        {"type": "sql", "description": "no negative c02",
         "query": "SELECT COUNT(*) FROM wide WHERE c02 < 0", "mustBe": 0},
    ]
    doc = {"apiVersion": "v3.0.2", "kind": "DataContract", "id": "wide-contract",
           "version": "1.0.0", "name": "Wide table",
           "servers": [{"server": "local", "type": "local", "format": "parquet",
                        "path": os.path.join(d, "wide.parquet")}],
           "schema": [{"name": "wide", "logicalType": "table",
                       "properties": props, "quality": model_rules}]}
    keywords = ("enum", "pattern", "minimum", "maximum", "maxLength")
    declared = len(model_rules) + sum(
        2 + int(p.get("required", False))
        + sum(k in p.get("logicalTypeOptions", {}) for k in keywords)
        + len(p.get("quality", [])) for p in props)
    path = os.path.join(d, "contract.yaml")
    with open(path, "w") as f:
        yaml.safe_dump(doc, f, sort_keys=False)
    return path, declared


# ---------------------------------------------------------------------------
# curate_docs
# ---------------------------------------------------------------------------

def documents(seed: int) -> tuple[str, dict]:
    return _cached("documents-sf0.1", seed, _build_documents)


def _build_documents(d: str, seed: int) -> dict:
    """The eval set for the sf0.1 corpus: N_EVAL documents drawn from it
    with the seed, under new ids, so decontamination has real matches;
    plus the contract gate's contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = pq.read_table(DOCS_CORPUS, columns=["doc_id", "text"])
    rng = np.random.default_rng(seed)
    picks = rng.choice(corpus.num_rows, size=N_EVAL, replace=False)
    texts = [corpus.column("text")[int(i)].as_py() for i in picks]
    pq.write_table(pa.table({"doc_id": np.arange(N_EVAL, dtype=np.int64) + 10_000_000,
                             "text": texts}),
                   os.path.join(d, "eval.parquet"))
    with open(os.path.join(d, "contract.yaml"), "w") as f:
        f.write(_DOCS_CONTRACT)
    return {"docs": corpus.num_rows, "eval_texts": sorted(set(texts))}


_DOCS_CONTRACT = f"""apiVersion: v3.0.2
kind: DataContract
id: documents-contract
version: 1.0.0
name: Documents
schema:
  - name: documents
    logicalType: table
    properties:
      - name: doc_id
        logicalType: integer
        required: true
      - name: text
        logicalType: string
        required: true
      - name: lang
        logicalType: string
        required: true
        logicalTypeOptions:
          enum: [{", ".join(LANGS)}]
"""
