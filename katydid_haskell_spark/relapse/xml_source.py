"""XML → tree events, matching the reference's XML encoding.

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

One decoder, :func:`_xml_events`: it walks the parsed elements with an
explicit stack (depth is bounded only by the XML parser) and appends CALL
label ids and returns straight into the VPA's event buffer.  The column
runs those events through :class:`~.vpa.TableValidator`;
:func:`decode_xml` rebuilds the forest from the same events.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from .automaton import table_validator_for
from .parser import parse_grammar
from .smart import compile_grammar
from .vpa import (
    C_INT,
    C_STRING,
    RET_EV,
    TableValidator,
    _LabelIntern,
    batch_events,
    events_to_forest,
)

# ASCII digits only: the reference's ``read`` gives String for ``١٢``
_INT_RE = re.compile(r"^-?[0-9]+$")


def _text_events(text: str, ev: list, label_id) -> None:
    """A text run → one leaf (Int when int-like, else String), or nothing
    when it is whitespace-only."""
    stripped = text.strip()
    if stripped == "":
        return
    if _INT_RE.match(stripped):
        ev.append(label_id(C_INT, int(stripped)))
    else:
        ev.append(label_id(C_STRING, text))
    ev.append(RET_EV)


def _xml_events(doc: str, attrs: bool, ev: list, label_id) -> None:
    """Append one XML document's events (a single root element node) to
    ``ev``, interning labels with ``label_id``.  An element opens with its
    CALL (namespace stripped → localName), its attribute nodes and its
    leading text; each child element is followed by its tail text."""
    stack: list = []
    e = ET.fromstring(doc)
    while True:
        if e is not None:
            tag = e.tag
            ev.append(label_id(C_STRING, tag[tag.rfind("}") + 1:]))
            if attrs:
                for k, v in e.attrib.items():
                    ev.append(label_id(C_STRING, k[k.rfind("}") + 1:]))
                    _text_events(v, ev, label_id)
                    ev.append(RET_EV)
            if e.text is not None:
                _text_events(e.text, ev, label_id)
            stack.append((e, iter(e)))
        top, kids = stack[-1]
        e = next(kids, None)
        if e is None:  # top closes; its tail text follows it
            stack.pop()
            ev.append(RET_EV)
            if not stack:
                return
            if top.tail is not None:
                _text_events(top.tail, ev, label_id)


def decode_xml(s: str, attrs: bool = True) -> tuple:
    """XML document string → forest (single root element node).

    ``attrs=True`` (default) decodes attributes as leading child nodes —
    beyond the reference, which drops them (Xml.hs:40 TODO)."""
    it = _LabelIntern()
    ev: list = []
    _xml_events(s, attrs, ev, it.label_id)
    return events_to_forest(ev, it.labels())


def xml_verdicts(tv: TableValidator, docs, attrs: bool = True) -> np.ndarray:
    """Verdicts for one batch of XML document strings: every document
    decodes into one event buffer, walked by ``tv``.  Null or malformed
    documents are False."""
    def emit(d, ev, it):
        _xml_events(d, attrs, ev, it.label_id)

    # ParseError: malformed XML; ValueError: text the parser cannot encode
    return tv.verdicts(len(docs), *batch_events(docs, emit,
                                                (ET.ParseError, ValueError)))


def validate_xml_column(col: Column, spec_source: str,
                        attrs: bool = True) -> Column:
    """Boolean Column: XML document column matches the Relapse spec.

    Each Arrow batch decodes straight to events (:func:`xml_verdicts`) and
    runs the same cached int-table VPA as the JSON column
    (:func:`~.automaton.table_validator_for`); null or malformed documents
    are False, never errors.

    ``attrs=True`` (default) decodes attributes as leading child nodes;
    ``attrs=False`` restores reference parity (Xml.hs:40 drops them)."""
    compile_grammar(parse_grammar(spec_source))  # fail fast on driver

    @pandas_udf("boolean")
    def match(docs: pd.Series) -> pd.Series:
        tv = table_validator_for(spec_source)
        return pd.Series(xml_verdicts(tv, docs.tolist(), attrs))

    return match(col)
