"""XML → labeled forest, matching the reference's XML encoding.

``/root/reference/src/Data/Katydid/Parser/Xml.hs:23-47``: element tag →
node labeled ``String localName``; text content parsed as ``Int`` when
possible else ``String``.

Attributes: the reference TODOs them (Xml.hs:40, silently dropped).  We
decode them — silently dropping data a validator should see is worse than
a representational choice — as leading child nodes labeled by attribute
local name, value parsed like text (``<a href="x">`` →
``node("a", [node("href", [node("x")]), …])``).  ``attrs=False`` restores
the reference's drop-them behavior for byte parity.

Whitespace-only text between elements is skipped (the reference's parser
produces no node for it).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from typing import Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from .automaton import table_validator_for
from .labels import INT, STRING, Label, node
from .parser import parse_grammar
from .smart import compile_grammar

_INT_RE = re.compile(r"^-?\d+$")


def _text_forest(text: Optional[str]) -> tuple:
    if text is None:
        return ()
    stripped = text.strip()
    if stripped == "":
        return ()
    if _INT_RE.match(stripped):
        return (node(Label(INT, int(stripped))),)
    return (node(Label(STRING, text)),)


def _elem_to_node(e, attrs: bool = True) -> tuple:
    children = []
    if attrs:
        for k, v in e.attrib.items():
            children.append(
                node(Label(STRING, k.split("}")[-1]), _text_forest(v)))
    children.extend(_text_forest(e.text))
    for c in e:
        children.extend(_elem_to_node(c, attrs))
        children.extend(_text_forest(c.tail))
    tag = e.tag.split("}")[-1]  # strip namespace → localName
    return (node(Label(STRING, tag), tuple(children)),)


def decode_xml(s: str, attrs: bool = True) -> tuple:
    """XML document string → forest (single root element node).

    ``attrs=True`` (default) decodes attributes as leading child nodes —
    beyond the reference, which drops them (Xml.hs:40 TODO)."""
    return _elem_to_node(ET.fromstring(s), attrs)


def _forest_or_none(doc: Optional[str], attrs: bool):
    """The column's decode contract: null or unparseable XML → None."""
    if doc is None:
        return None
    try:
        return decode_xml(doc, attrs=attrs)
    except Exception:
        return None


def validate_xml_column(col: Column, spec_source: str,
                        attrs: bool = True) -> Column:
    """Boolean Column: XML document column matches the Relapse spec.

    Each Arrow batch decodes to forests and runs the same cached int-table
    VPA as the JSON column (:func:`~.automaton.table_validator_for`);
    null or malformed documents are False, never errors.

    ``attrs=True`` (default) decodes attributes as leading child nodes;
    ``attrs=False`` restores reference parity (Xml.hs:40 drops them)."""
    compile_grammar(parse_grammar(spec_source))  # fail fast on driver

    @pandas_udf("boolean")
    def match(docs: pd.Series) -> pd.Series:
        forests = [_forest_or_none(d, attrs) for d in docs.tolist()]
        tv = table_validator_for(spec_source)
        return pd.Series(tv.validate_forests(forests))

    return match(col)
