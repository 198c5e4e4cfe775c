"""Golden end-to-end cases for the XML and protobuf sources: the same
(spec, documents, expected) triple is checked through THREE execution
paths — the pure derivative engine over the decoded forest, the table
VPA over one batch of decoded events (the entry the column calls), and
the Arrow-batched Spark column validator — the source-level analogue of
the row-corpus cross-check (reference: /root/reference/test/Suite.hs:46-61
runs every testsuite case through 4 algorithms).  An undecodable
document is False on every path."""

import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from katydid_haskell_spark.relapse import parse, validate
from katydid_haskell_spark.relapse.protobuf_source import (
    DescMap,
    Field,
    ProtoError,
    _message,
    _message_events,
    decode_protobuf,
    encode_field,
    encode_int64,
    encode_message_field,
    encode_packed_varints,
    encode_string,
    encode_varint,
    protobuf_verdicts,
    validate_protobuf_column,
)
from katydid_haskell_spark.relapse.vpa import TableValidator, batch_events
from katydid_haskell_spark.relapse.xml_source import (
    _xml_events,
    decode_xml,
    validate_xml_column,
    xml_verdicts,
)

XML_CASES = [
    # (spec, [(doc, expected)])
    ("person: {name == \"ann\"; age == 34}",
     [("<person><name>ann</name><age>34</age></person>", True),
      ("<person><age>34</age><name>ann</name></person>", True),
      ("<person><name>bob</name><age>34</age></person>", False),
      ("<person><name>ann</name></person>", False)]),
    ("doc: .item: *",
     [("<doc><item>1</item><item>2</item></doc>", True),
      ("<doc><other>1</other></doc>", False),
      ("<doc/>", False)]),
    ("root: .b: -> ge($int, 5)",
     [("<root><a>1</a><b>7</b></root>", True),
      ("<root><b>4</b></root>", False),
      ("<root><b>x</b></root>", False)]),  # non-int text → eval error → False
    # --- mixed content (text interleaved with elements), round 8 ---
    # text runs become leaf nodes IN DOCUMENT ORDER; string leaves keep
    # the ORIGINAL text (tails included), so ' world' != 'world'
    ('p: [== "hello", b == 1, == " world"]',
     [("<p>hello<b>1</b> world</p>", True),
      ("<p>hello<b>1</b>world</p>", False),    # tail lost its space
      ("<p><b>1</b>hello world</p>", False),   # order: text-first required
      ("<p>hello<b>2</b> world</p>", False)]),
    # whitespace-only text produces NO node (reference parser parity);
    # non-whitespace tails do
    ('doc: [a == 1, == "x", a == 2]',
     [("<doc><a>1</a>x<a>2</a></doc>", True),
      ("<doc>\n  <a>1</a>x<a>2</a>\n</doc>", True),
      ("<doc><a>1</a><a>2</a></doc>", False)]),
    # integer-looking mixed text is an Int leaf (detection on the
    # STRIPPED text, Xml.hs text→Int rule), non-integer stays String
    ("q: [== 42, i == 0]",
     [("<q>42<i>0</i></q>", True),
      ("<q> 42 <i>0</i></q>", True),
      ("<q>fortytwo<i>0</i></q>", False)]),
    # --- event decoder cases ---
    # namespaced attributes and tags decode to their local names
    ('a: {href == "x"; id == 7; b: *}',
     [('<p:a xmlns:p="urn:p" p:href="x" id="7"><p:b/></p:a>', True),
      ('<a xmlns:q="urn:q" q:href="x" id="7"><b/></a>', True),
      ('<a href="y" id="7"><b/></a>', False)]),
    # whitespace-only text and tails are skipped, other tails kept
    ('a: [b == 1, c: <empty>, == "t"]',
     [("<a>\n  <b> 1 </b>\n  <c>  </c>t</a>", True),
      ("<a> <b>1</b> <c/> t </a>", False),    # String leaves keep spaces
      ("<a><b>1</b><c>x</c>t</a>", False)]),
    # mixed content: text runs around a child element, in order
    ('a: [== "x", b: <empty>, == "y"]',
     [("<a>x<b/>y</a>", True),
      ("<a>x<b/></a>", False),
      ("<a><b/>y</a>", False)]),
    # int-like text: "-0" is Int 0, "007" is Int 7
    ("n: {z == 0; s == 7}",
     [("<n><z>-0</z><s>007</s></n>", True),
      ("<n><z>0</z><s>7</s></n>", True),
      ("<n><z>-1</z><s>007</s></n>", False)]),
    # a malformed document between two valid ones: only it is False
    ("a: .b == 1",
     [("<a><b>1</b></a>", True),
      ("<a><b>1</b>", False),
      ("<a><b>1</b></a>", True)]),
    # only ASCII digits make an Int: Arabic-Indic "١٢" stays String
    ('a: == "\u0661\u0662"',
     [("<a>\u0661\u0662</a>", True),
      ("<a>12</a>", False)]),
]

DESC: DescMap = {
    "Doc": {
        1: Field("title", "string"),
        2: Field("tags", "string", repeated=True),
        3: Field("meta", "message", message="Meta"),
        4: Field("scores", "int64", repeated=True),
    },
    "Meta": {1: Field("lang", "string"), 2: Field("year", "int64")},
}


def _doc(title="t", tags=(), meta=None, packed_scores=None):
    out = encode_string(1, title)
    for t in tags:
        out += encode_string(2, t)
    if meta is not None:
        lang, year = meta
        out += encode_message_field(
            3, encode_string(1, lang) + encode_field(2, 0, encode_varint(year)))
    if packed_scores:
        out += encode_packed_varints(4, packed_scores)
    return out


def _run(*fields):
    return b"".join(fields)


PB_CASES = [
    ('.title == "hello"',
     [(_doc(title="hello"), True), (_doc(title="bye"), False)]),
    ('.meta: .lang *= []string{"en","de"}',
     [(_doc(meta=("en", 2024)), True),
      (_doc(meta=("fr", 2024)), False),
      (_doc(), False)]),
    ('.tags: .1 == "b"',
     [(_doc(tags=["a", "b"]), True), (_doc(tags=["a"]), False)]),
    ('.scores: .2 == 30',  # packed repeated → index-labeled children
     [(_doc(packed_scores=[10, 20, 30]), True),
      (_doc(packed_scores=[10, 20]), False)]),
    # --- event decoder cases, one batch ---
    ('(.tags: .1 == "b" | .scores: .2 == 30)',
     [  # a run broken by another field: two groups, indexes restart
      (_run(encode_string(2, "a"), encode_string(1, "t"),
            encode_string(2, "b")), False),
      (_run(encode_string(2, "a"), encode_string(1, "t"),
            encode_string(2, "x"), encode_string(2, "b")), True),
      # an unknown field inside a run does not break it
      (_run(encode_string(2, "a"), encode_string(99, "?"),
            encode_string(2, "b")), True),
      # packed next to unpacked occurrences: one run
      (_run(encode_int64(4, 10), encode_packed_varints(4, [20, 30])),
       True),
      (_run(encode_packed_varints(4, [10, 20]), encode_string(1, "t"),
            encode_int64(4, 30)), False),
      # a ProtoError after fields that already emitted events
      (_run(encode_string(2, "a"), encode_string(2, "b"), b"\x20"),
       False),
      # bad UTF-8 in a string field
      (_run(encode_string(2, "a"), encode_string(2, "b"),
            encode_field(1, 2, encode_varint(2) + b"\xff\xfe")), False),
      (_run(encode_string(2, "a"), encode_string(2, "b")), True)]),
    # an empty packed field (tag plus length 0) adds no node and does not
    # break a run of another repeated field
    ('(title == "t" | .tags: .1 == "b")',  # bare: exactly one node
     [(_run(encode_string(1, "t"), encode_packed_varints(4, [])), True),
      (_run(encode_string(1, "u"), encode_packed_varints(4, [])), False),
      (_run(encode_string(2, "a"), encode_packed_varints(4, []),
            encode_string(2, "b")), True)]),
]


def _pure(g, decode, doc, errors) -> bool:
    """derive.Validator over the decoded forest; undecodable → False."""
    try:
        forest = decode(doc)
    except errors:
        return False
    return validate(g, forest)


@pytest.mark.parametrize("spec,docs", XML_CASES)
def test_xml_golden_both_paths(spark, spec, docs):
    g = parse(spec)
    pure = [_pure(g, decode_xml, d, ET.ParseError) for d, _ in docs]
    want = [e for _, e in docs]
    assert pure == want, f"pure engine: {pure} want {want}"
    batch = list(xml_verdicts(TableValidator(g.sgrammar), [d for d, _ in docs]))
    assert batch == want, f"event batch: {batch} want {want}"
    df = spark.createDataFrame([(d,) for d, _ in docs], "doc string")
    col = [r["m"] for r in
           df.select(validate_xml_column(F.col("doc"), spec).alias("m")).collect()]
    assert col == want, f"column path: {col} want {want}"


@pytest.mark.parametrize("spec,docs", PB_CASES)
def test_protobuf_golden_both_paths(spark, spec, docs):
    g = parse(spec)
    pure = [_pure(g, lambda d: decode_protobuf(DESC, "Doc", d), d, ProtoError)
            for d, _ in docs]
    want = [e for _, e in docs]
    assert pure == want, f"pure engine: {pure} want {want}"
    batch = list(protobuf_verdicts(TableValidator(g.sgrammar),
                                   [d for d, _ in docs], DESC, "Doc"))
    assert batch == want, f"event batch: {batch} want {want}"
    df = spark.createDataFrame([(bytearray(d),) for d, _ in docs],
                               "doc binary")
    col = [r["m"] for r in
           df.select(validate_protobuf_column(F.col("doc"), spec, DESC,
                                              "Doc").alias("m")).collect()]
    assert col == want, f"column path: {col} want {want}"


def test_protobuf_column_null_and_garbage(spark):
    df = spark.createDataFrame(
        [(bytearray(_doc(title="hello")),), (None,), (bytearray(b"\xff\xff"),)],
        "doc binary")
    got = [r["m"] for r in df.select(
        validate_protobuf_column(F.col("doc"), '.title == "hello"', DESC,
                                 "Doc").alias("m")).collect()]
    assert got == [True, False, False]


def _alone(emit, doc) -> list:
    """One document's events, decoded in a batch of its own."""
    it, buf, _ = batch_events([doc], emit, Exception)
    labels = it.labels()
    return [labels[x] if x >= 0 else x for x in buf]


@pytest.mark.parametrize("emit,good,bad", [
    (lambda d, ev, it: _xml_events(d, True, ev, it.label_id),
     "<a><b>1</b>x</a>", "<a><b>1</b>x"),
    (lambda d, ev, it: _message_events(DESC, _message(DESC, "Doc"), d, ev,
                                       it.label_id),
     _doc(title="t", tags=["a", "b"]),
     # fields that emit events, then a truncated varint
     _doc(title="t", tags=["a", "b"]) + b"\x20"),
])
def test_decode_error_rolls_back_only_its_document(emit, good, bad):
    """A document whose decode fails (for protobuf, after some of its
    fields already emitted events) leaves no events in the batch buffer:
    its neighbours' spans abut and hold exactly the events each decodes
    to alone."""
    it, buf, spans = batch_events([good, bad, None, good], emit, Exception)
    one = _alone(emit, good)
    assert [d for d, _, _ in spans] == [0, 3]
    assert spans[0][1] == 0 and spans[0][2] == spans[1][1] == len(one)
    assert spans[1][2] == len(buf) == 2 * len(one)
    labels = it.labels()
    assert [labels[x] if x >= 0 else x for x in buf] == one + one
