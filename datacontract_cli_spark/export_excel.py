"""Excel template exporter — writes a .xlsx workbook in the same template
shape the Excel importer reads (reference: export/excel_exporter.py fills
the ODCS template via openpyxl; here the SpreadsheetML parts are emitted
directly with the stdlib zipfile/XML, since openpyxl is absent).

Sheets written: Fundamentals (named cells id/name/version/apiVersion/kind/
status/description.*/tags), one ``Schema <name>`` sheet per model (named
cells + the header-mapped ``schema.properties`` table, nested properties
flattened back to dotted names), Servers (named field rows, one column per
server), SLA (slaProperties table). Defined names match the importer's, so
``import_excel(to_excel(contract))`` round-trips every covered field —
which is exactly how the tests verify it."""

from __future__ import annotations

import zipfile
from typing import Any, Dict, List, Optional, Tuple
from xml.sax.saxutils import escape

from datacontract_cli_spark.model.contract import DataContract, Property

_PROP_HEADERS = [
    "Property", "Business Name", "Logical Type", "Physical Type",
    "Example(s)", "Description", "Required", "Unique", "Classification",
    "Tags", "Authoritative Definition URL", "Authoritative Definition Type",
    "Physical Name", "Primary Key", "Primary Key Position", "Partitioned",
    "Partition Key Position", "Encrypted Name", "Transform Sources",
    "Transform Logic", "Transform Description", "Critical Data Element Status",
    "Maximum Items", "Minimum Items", "Unique Items", "Format",
    "Minimum Length", "Maximum Length", "Exclusive Minimum", "Minimum",
    "Exclusive Maximum", "Maximum", "Multiple Of", "Minimum Properties",
    "Maximum Properties", "Required Properties", "Pattern",
]


def _col_letter(idx: int) -> str:
    out = ""
    while idx > 0:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


class _SheetBuilder:
    def __init__(self, name: str):
        self.name = name
        self.cells: Dict[Tuple[int, int], Any] = {}

    def set(self, row: int, col: int, value: Any) -> None:
        if value is not None and value != "":
            self.cells[(row, col)] = value

    def xml(self) -> str:
        rows: Dict[int, List[Tuple[int, Any]]] = {}
        for (r, c), v in sorted(self.cells.items()):
            rows.setdefault(r, []).append((c, v))
        body = []
        for r in sorted(rows):
            cells_xml = []
            for c, v in rows[r]:
                ref = f"{_col_letter(c)}{r}"
                if isinstance(v, bool):
                    cells_xml.append(
                        f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>')
                elif isinstance(v, (int, float)):
                    cells_xml.append(f'<c r="{ref}"><v>{v}</v></c>')
                else:
                    cells_xml.append(
                        f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                        f"{escape(str(v))}</t></is></c>")
            body.append(f'<row r="{r}">' + "".join(cells_xml) + "</row>")
        return ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/'
                'spreadsheetml/2006/main"><sheetData>'
                + "".join(body) + "</sheetData></worksheet>")


def _quote_sheet(name: str) -> str:
    return "'" + name.replace("'", "''") + "'" if any(
        ch in name for ch in " .-") else name


def _flatten_props(props: List[Property], prefix: str = "") -> List[Tuple[str, Property]]:
    out = []
    for p in props:
        name = f"{prefix}{p.name}"
        out.append((name, p))
        if p.properties:
            out.extend(_flatten_props(p.properties, name + "."))
        if p.items is not None:
            out.append((f"{name}.{p.items.name or 'items'}", p.items))
    return out


def to_excel_bytes(contract: DataContract) -> bytes:
    import io

    sheets: List[_SheetBuilder] = []
    defined: List[Tuple[str, Optional[str], str]] = []  # name, scope, ref

    # Fundamentals ---------------------------------------------------------
    fund = _SheetBuilder("Fundamentals")
    sheets.append(fund)
    row = 4
    for name, value in (("kind", "DataContract"),
                        ("apiVersion", "v3.1.0"),
                        ("id", contract.id), ("name", contract.name),
                        ("version", contract.version),
                        ("status", None), ("domain", None),
                        ("tenant", None), ("dataProduct", None),
                        ("description.purpose", contract.description),
                        ("description.limitations", None),
                        ("description.usage", None),
                        ("tags", None)):
        fund.set(row, 2, name)
        fund.set(row, 3, value)
        defined.append((name, None, f"Fundamentals!$C${row}"))
        row += 1

    # Schema sheets --------------------------------------------------------
    for obj in contract.schema_objects:
        sheet_name = f"Schema {obj.name}"[:31]
        sh = _SheetBuilder(sheet_name)
        sheets.append(sh)
        q = _quote_sheet(sheet_name)
        meta = [("schema.name", obj.name),
                ("schema.physicalType", obj.physical_type),
                ("schema.description", obj.description),
                ("schema.businessName", None),
                ("schema.physicalName", obj.physical_name),
                ("schema.dataGranularityDescription", None),
                ("schema.tags", None)]
        for i, (name, value) in enumerate(meta):
            r = 5 + i
            sh.set(r, 1, name.split(".")[-1])
            sh.set(r, 2, value)
            defined.append((name, sheet_name, f"{q}!$B${r}"))
        header_row = 13
        for col, header in enumerate(_PROP_HEADERS, start=1):
            sh.set(header_row, col, header)
        flat = _flatten_props(obj.properties)
        hidx = {h.lower(): i + 1 for i, h in enumerate(_PROP_HEADERS)}
        for i, (dotted, p) in enumerate(flat):
            r = header_row + 1 + i
            custom = (p.options or {}).get("customProperties") or {}
            sh.set(r, hidx["property"], dotted)
            sh.set(r, hidx["logical type"], p.logical_type)
            sh.set(r, hidx["physical type"], p.physical_type)
            sh.set(r, hidx["physical name"], p.physical_name)
            sh.set(r, hidx["description"], p.description)
            sh.set(r, hidx["business name"], custom.get("businessName"))
            if p.required:
                sh.set(r, hidx["required"], True)
            if p.unique:
                sh.set(r, hidx["unique"], True)
            if p.primary_key:
                sh.set(r, hidx["primary key"], True)
            sh.set(r, hidx["primary key position"], p.primary_key_position)
            sh.set(r, hidx["classification"], p.classification)
            if p.tags:
                sh.set(r, hidx["tags"], ", ".join(p.tags))
            if custom.get("examples"):
                sh.set(r, hidx["example(s)"], ", ".join(custom["examples"]))
            sh.set(r, hidx["authoritative definition url"],
                   custom.get("authoritativeDefinitionUrl"))
            sh.set(r, hidx["authoritative definition type"],
                   custom.get("authoritativeDefinitionType"))
            opts = p.options or {}
            for header, key in (("minimum length", "minLength"),
                                ("maximum length", "maxLength"),
                                ("pattern", "pattern"), ("format", "format"),
                                ("minimum", "minimum"), ("maximum", "maximum"),
                                ("minimum items", "minItems"),
                                ("maximum items", "maxItems")):
                if opts.get(key) is not None:
                    sh.set(r, hidx[header], opts[key])
        end_row = header_row + max(len(flat), 1)
        last_col = _col_letter(len(_PROP_HEADERS))
        defined.append(("schema.properties", sheet_name,
                        f"{q}!$A${header_row}:${last_col}${end_row}"))

    # Servers --------------------------------------------------------------
    if contract.servers:
        srv = _SheetBuilder("Servers")
        sheets.append(srv)
        srv.set(4, 2, "server")
        srv.set(5, 2, "environment")
        srv.set(6, 2, "description")
        srv.set(8, 2, "type")
        defined.append(("servers.server", None, "Servers!$C$4"))
        defined.append(("servers.environment", None, "Servers!$C$5"))
        defined.append(("servers.description", None, "Servers!$C$6"))
        defined.append(("servers.type", None, "Servers!$C$8"))
        field_rows: Dict[Tuple[str, str], int] = {}
        next_row = 10
        for offset, s in enumerate(contract.servers):
            col = 3 + offset
            srv.set(4, col, s.server)
            srv.set(5, col, (s.options or {}).get("environment"))
            srv.set(6, col, (s.options or {}).get("description"))
            srv.set(8, col, s.type)
            stype = s.type or "custom"
            fields: Dict[str, Any] = {}
            if s.catalog:
                fields["catalog"] = s.catalog
            if s.schema_:
                fields["schema"] = s.schema_
            if s.format:
                fields["format"] = s.format
            if s.path:
                fields["path"] = s.path
            if s.location:
                fields["location"] = s.location
            for k, v in (s.options or {}).items():
                if k not in ("environment", "description"):
                    fields.setdefault(k, v)
            for fname, value in fields.items():
                key = (stype, fname)
                if key not in field_rows:
                    field_rows[key] = next_row
                    srv.set(next_row, 2, fname)
                    defined.append((f"servers.{stype}.{fname}", None,
                                    f"Servers!$C${next_row}"))
                    next_row += 1
                srv.set(field_rows[key], col, value)

    # SLA ------------------------------------------------------------------
    if contract.sla_properties:
        sla = _SheetBuilder("SLA")
        sheets.append(sla)
        headers = ["Property", "Value", "Unit", "Element"]
        for col, h in enumerate(headers, start=1):
            sla.set(6, col, h)
        for i, s in enumerate(contract.sla_properties):
            sla.set(7 + i, 1, s.property)
            sla.set(7 + i, 2, s.value)
            sla.set(7 + i, 3, s.unit)
            sla.set(7 + i, 4, s.element)
        defined.append(("slaProperties", "SLA",
                        f"SLA!$A$6:$F${6 + len(contract.sla_properties)}"))

    # workbook parts -------------------------------------------------------
    sheet_index = {sh.name: i for i, sh in enumerate(sheets)}
    def_xml = []
    for name, scope, ref in defined:
        scope_attr = (f' localSheetId="{sheet_index[scope]}"'
                      if scope is not None else "")
        def_xml.append(f'<definedName name="{escape(name)}"{scope_attr}>'
                       f"{escape(ref)}</definedName>")
    sheets_xml = "".join(
        f'<sheet name="{escape(sh.name)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, sh in enumerate(sheets))
    workbook_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{sheets_xml}</sheets>"
        f"<definedNames>{''.join(def_xml)}</definedNames></workbook>")
    rels_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets)))
        + "</Relationships>")
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.worksheet+xml"/>'
            for i in range(len(sheets)))
        + "</Types>")
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook_xml)
        z.writestr("xl/_rels/workbook.xml.rels", rels_xml)
        for i, sh in enumerate(sheets):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", sh.xml())
    return buf.getvalue()
