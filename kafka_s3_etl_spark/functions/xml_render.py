"""Deterministic JSON->XML document renderer (reference-parity).

Behavior-parity rebuild of the reference's bespoke JSON->XML transform
(reference ``src/s3_json_to_xml.py:117-221``; rules catalogued in
SURVEY.md section 2a op B3):

* document = XML declaration + ``<products>`` root + one ``<product>``
  per record, 2-space indent per level;
* element order = JSON key insertion order per record (so records are
  parsed from *text*, never through a StructType, which would reorder
  and null-fill keys);
* arrays render as ``<key>...</key>`` with key-specific item wrappers:
  ``countryOfOrigin`` -> ``<entry>``, ``itemSellingPrices`` /
  ``itemGrossPrices`` -> ``<price>``, ``fabricCompositions`` ->
  ``<composition>``; any other array is unwrapped;
* array items that are objects expand their sub-keys one level; nested
  objects expand one level of child elements;
* scalar values are interpolated with Python ``str()`` — floats render
  like ``55.0`` and **no XML escaping is applied** (golden-file parity
  with reference ``data/output.xml`` requires reproducing this, bug
  for bug).

The renderer is a pure function over one parsed record dict. The Spark
plumbing (kafka_s3_etl_spark.operators.xml_pipeline) parses the array
and calls ``render_block`` on each record in one fused single-partition
pass, and ``json_document_to_xml`` runs the same two steps in-process:
records go from ``json.loads`` straight to XML, never back through JSON
text. Only the final ordered assembly of ONE document is driver-side.
"""

from __future__ import annotations

import json

XML_DECLARATION = '<?xml version="1.0" encoding="UTF-8"?>'
ROOT_ELEMENT = "products"
RECORD_ELEMENT = "product"
INDENT = "  "

# Key-specific array item wrappers (reference src/s3_json_to_xml.py:177-183).
ARRAY_ITEM_WRAPPERS: dict[str, str] = {
    "countryOfOrigin": "entry",
    "itemSellingPrices": "price",
    "itemGrossPrices": "price",
    "fabricCompositions": "composition",
}


def _scalar_line(pad: str, tag: str, value: object) -> str:
    return f"{pad}<{tag}>{value}</{tag}>\n"


def render_record(record: dict, depth: int = 2) -> str:
    """Render one product record (without the <product> wrapper)."""
    if not isinstance(record, dict):
        raise TypeError(f"expected dict record, got {type(record).__name__}")
    pad = INDENT * depth
    out: list[str] = []
    for key, value in record.items():
        if isinstance(value, list):
            out.append(f"{pad}<{key}>\n")
            wrapper = ARRAY_ITEM_WRAPPERS.get(key)
            for item in value:
                if wrapper is not None:
                    out.append(f"{pad}{INDENT}<{wrapper}>\n")
                    if isinstance(item, dict):
                        for k2, v2 in item.items():
                            out.append(_scalar_line(pad + INDENT * 2, k2, v2))
                    else:
                        out.append(f"{pad}{INDENT * 2}{item}\n")
                    out.append(f"{pad}{INDENT}</{wrapper}>\n")
                elif isinstance(item, dict):
                    for k2, v2 in item.items():
                        out.append(_scalar_line(pad + INDENT, k2, v2))
                else:
                    out.append(f"{pad}{INDENT}{item}\n")
            out.append(f"{pad}</{key}>\n")
        elif isinstance(value, dict):
            out.append(f"{pad}<{key}>\n")
            for k2, v2 in value.items():
                out.append(_scalar_line(pad + INDENT, k2, v2))
            out.append(f"{pad}</{key}>\n")
        else:
            out.append(_scalar_line(pad, key, value))
    return "".join(out)


def render_block(record: dict) -> str:
    """Render one parsed record as a full <product> block."""
    return (
        f"{INDENT}<{RECORD_ELEMENT}>\n"
        + render_record(record)
        + f"{INDENT}</{RECORD_ELEMENT}>\n"
    )


def parse_records(json_text: str) -> list:
    """Parse a JSON array document into its records, key order intact."""
    records = json.loads(json_text)
    if not isinstance(records, list):
        raise TypeError(f"expected list of records, got {type(records).__name__}")
    return records


def assemble_document(record_blocks: list[str]) -> str:
    """Assemble ordered <product> blocks into the single XML document."""
    return (
        XML_DECLARATION
        + "\n"
        + f"<{ROOT_ELEMENT}>\n"
        + "".join(record_blocks)
        + f"</{ROOT_ELEMENT}>\n"
    )


def json_document_to_xml(json_text: str) -> str:
    """Whole-document convenience path: JSON array text -> XML text."""
    return assemble_document([render_block(r) for r in parse_records(json_text)])
