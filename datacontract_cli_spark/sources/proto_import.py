"""Protobuf importer: .proto files -> DataContract.

Reference behavior: datacontract/imports/protobuf_importer.py (there via
the proto-schema-parser package, absent from this image — this module
carries a minimal .proto reader): transitive import resolution (relative
to the importing file, falling back to the first source's directory),
messages and enums indexed by simple name across all parsed files, oneof
groups flattened, top-level messages of the SOURCE files becoming schema
objects. Output matches the reference's expected contracts: scalar fields
carry the protobuf field-type NUMBER as physicalType ('9' for string, '1'
for double, ...), message fields nest as objects (physicalType 'message'),
repeated message fields become arrays of objects ('repeated message'),
enum fields are strings with the value map in customProperties.enumValues,
and descriptions are the reference's generated strings ("Field x",
"Enum field x", "Nested object of T", "List of T", "Details of M.").
"""

from __future__ import annotations

import os
import re
from typing import Any, Dict, List, Optional, Tuple

from datacontract_cli_spark.model.contract import DataContract, Property, SchemaObject

_TYPE_NUMBER = {
    "double": 1, "float": 2, "int64": 3, "uint64": 4, "int32": 5,
    "fixed64": 6, "fixed32": 7, "bool": 8, "string": 9, "bytes": 12,
    "uint32": 13, "sfixed32": 15, "sfixed64": 16, "sint32": 17, "sint64": 18,
}
_NUMBER_LOGICAL = {
    1: "number", 2: "number", 3: "integer", 4: "integer", 5: "integer",
    6: "string", 7: "string", 8: "boolean", 9: "string", 12: "array",
    13: "integer", 15: "integer", 16: "integer", 17: "integer", 18: "integer",
}


def _strip_comments(text: str) -> str:
    text = re.sub(r"/\*.*?\*/", "", text, flags=re.DOTALL)
    return re.sub(r"//[^\n]*", "", text)


def _matched_brace(text: str, open_idx: int) -> int:
    depth = 0
    for i in range(open_idx, len(text)):
        if text[i] == "{":
            depth += 1
        elif text[i] == "}":
            depth -= 1
            if depth == 0:
                return i
    return -1


def _extract_blocks(body: str, kind: str) -> Tuple[List[Tuple[str, str]], str]:
    """All `kind name { ... }` blocks in body; returns (blocks, remainder)."""
    blocks: List[Tuple[str, str]] = []
    out = []
    pos = 0
    pattern = re.compile(rf"\b{kind}\s+(\w+)\s*\{{")
    while True:
        m = pattern.search(body, pos)
        if not m:
            out.append(body[pos:])
            return blocks, "".join(out)
        open_idx = body.index("{", m.start())
        close = _matched_brace(body, open_idx)
        if close < 0:
            out.append(body[pos:])
            return blocks, "".join(out)
        blocks.append((m.group(1), body[open_idx + 1:close]))
        out.append(body[pos:m.start()])
        pos = close + 1


def _flatten_oneof(body: str) -> str:
    while True:
        m = re.search(r"\boneof\s+\w+\s*\{", body)
        if not m:
            return body
        open_idx = body.index("{", m.start())
        close = _matched_brace(body, open_idx)
        if close < 0:
            return body
        body = body[:m.start()] + body[open_idx + 1:close] + body[close + 1:]


_FIELD_RE = re.compile(
    r"^\s*(repeated|optional|required)?\s*"
    r"([A-Za-z_][\w.]*(?:\s*<[^>]*>)?)\s+(\w+)\s*=\s*\d+", re.MULTILINE)


def _parse_file(text: str, messages: Dict[str, str],
                enums: Dict[str, Dict[str, int]]) -> List[str]:
    """Register all messages/enums (recursively); return top-level message
    names in declaration order."""
    text = _strip_comments(text)
    top_level: List[str] = []

    def walk(body: str, at_top: bool) -> None:
        enum_blocks, body = _extract_blocks(body, "enum")
        for name, ebody in enum_blocks:
            values = {}
            for em in re.finditer(r"(\w+)\s*=\s*(\d+)\s*;", ebody):
                values[em.group(1)] = int(em.group(2))
            enums.setdefault(name, values)
        msg_blocks, _ = _extract_blocks(body, "message")
        for name, mbody in msg_blocks:
            messages.setdefault(name, mbody)
            if at_top:
                top_level.append(name)
            walk(mbody, False)

    walk(text, True)
    return top_level


def _fields_of(body: str) -> List[Tuple[Optional[str], str, str]]:
    """(cardinality, type, name) of a message body — nested blocks removed,
    oneof groups flattened."""
    _, body = _extract_blocks(body, "message")
    _, body = _extract_blocks(body, "enum")
    body = _flatten_oneof(body)
    # drop non-field statements (reserved, option, map entries keep going)
    out = []
    for m in _FIELD_RE.finditer(body):
        card, ftype, name = m.group(1), m.group(2).strip(), m.group(3)
        if ftype in ("reserved", "option", "extensions"):
            continue
        out.append((card, ftype, name))
    return out


def _field_property(card: Optional[str], ftype: str, name: str,
                    messages: Dict[str, str],
                    enums: Dict[str, Dict[str, int]]) -> Property:
    simple = ftype.split("<")[0].split(".")[-1] if "<" not in ftype \
        else ftype  # map<...> stays whole
    repeated = card == "repeated"
    required = card == "required"
    if simple in messages:
        nested = _message_properties(messages[simple], messages, enums)
        if repeated:
            return Property(
                name=name, logical_type="array",
                physical_type="repeated message",
                description=f"List of {simple}",
                items=Property(name="items", logical_type="object",
                               physical_type="message", properties=nested))
        return Property(name=name, logical_type="object",
                        physical_type="message",
                        description=f"Nested object of {simple}",
                        properties=nested)
    if simple in enums:
        values = enums[simple]
        options: Dict[str, Any] = (
            {"customProperties": {"enumValues": values}} if values else {})
        return Property(name=name, logical_type="string",
                        physical_type="enum",
                        description=f"Enum field {name}",
                        required=required, options=options)
    number = _TYPE_NUMBER.get(simple)
    return Property(
        name=name,
        logical_type=_NUMBER_LOGICAL.get(number, "string") if number else "string",
        physical_type=str(number) if number is not None else simple,
        description=f"Field {name}",
        required=required,
    )


def _message_properties(body: str, messages: Dict[str, str],
                        enums: Dict[str, Dict[str, int]]) -> List[Property]:
    return [_field_property(card, ftype, name, messages, enums)
            for card, ftype, name in _fields_of(body)]


def _resolve_imports(sources: List[str], proto_root: str) -> List[str]:
    seen: List[str] = []
    queue = list(sources)
    while queue:
        path = queue.pop(0)
        if path in seen:
            continue
        seen.append(path)
        try:
            with open(path, "r", encoding="utf-8") as f:
                text = f.read()
        except OSError as e:
            raise ValueError(f"failed to read proto file {path}: {e}") from e
        for imp in re.findall(r'import\s+"(.+?)";', text):
            resolved = os.path.join(os.path.dirname(path), imp)
            if not os.path.exists(resolved):
                resolved = os.path.join(proto_root, imp)
            if os.path.exists(resolved) and resolved not in seen:
                queue.append(resolved)
    return seen


def import_protobuf(sources: List[str]) -> DataContract:
    """One schema object per top-level message of each SOURCE file; types
    from imported files resolve but do not become schema objects."""
    if isinstance(sources, str):
        sources = [sources]
    proto_root = os.path.dirname(os.path.abspath(sources[0])) if sources else ""
    all_files = _resolve_imports(sources, proto_root)
    messages: Dict[str, str] = {}
    enums: Dict[str, Dict[str, int]] = {}
    top_by_file: Dict[str, List[str]] = {}
    for path in all_files:
        with open(path, "r", encoding="utf-8") as f:
            top_by_file[path] = _parse_file(f.read(), messages, enums)
    objects = []
    for src in sources:
        for name in top_by_file.get(src, []):
            objects.append(SchemaObject(
                name=name, physical_type="message",
                description=f"Details of {name}.",
                properties=_message_properties(messages[name], messages, enums),
            ))
    if not objects:
        raise ValueError("no top-level messages found in proto sources")
    return DataContract(id="my-data-contract", version="1.0.0",
                        schema_objects=objects)
