"""XML source parity + skew-handling operator tests."""

import pytest
from pyspark.sql import functions as F

from katydid_haskell_spark.operators import skew
from katydid_haskell_spark.relapse import parse, validate
from katydid_haskell_spark.relapse.labels import INT, STRING, Label, node
from katydid_haskell_spark.relapse.vpa import TableValidator
from katydid_haskell_spark.relapse.xml_source import (
    decode_xml,
    validate_xml_column,
    xml_verdicts,
)


def test_decode_xml_shapes():
    # tag → String localName; int-ish text → Int label (Xml.hs:40,46-47)
    f = decode_xml("<a><b>5</b><c>hi</c></a>")
    assert f == (
        node(Label(STRING, "a"), (
            node(Label(STRING, "b"), (node(Label(INT, 5)),)),
            node(Label(STRING, "c"), (node(Label(STRING, "hi")),)),
        )),
    )
    # whitespace between elements produces no node
    f2 = decode_xml("<a>\n  <b>1</b>\n</a>")
    assert f2 == (node(Label(STRING, "a"), (node(Label(STRING, "b"), (node(Label(INT, 1)),)),)),)
    # whitespace-only text and tails: no node; other text keeps its spaces
    assert decode_xml("<a> <b>  </b>\n<c/> t </a>") == (
        node(Label(STRING, "a"), (
            node(Label(STRING, "b")),
            node(Label(STRING, "c")),
            node(Label(STRING, " t ")),
        )),
    )
    # mixed content: text, child, tail in document order
    assert decode_xml("<a>x<b/>y</a>") == (
        node(Label(STRING, "a"), (
            node(Label(STRING, "x")),
            node(Label(STRING, "b")),
            node(Label(STRING, "y")),
        )),
    )
    # int-like text is parsed: "-0" → Int 0, "007" → Int 7
    assert decode_xml("<n><z>-0</z><s>007</s></n>") == (
        node(Label(STRING, "n"), (
            node(Label(STRING, "z"), (node(Label(INT, 0)),)),
            node(Label(STRING, "s"), (node(Label(INT, 7)),)),
        )),
    )
    # only ASCII digits are int-like: Arabic-Indic "١٢" is a String
    assert decode_xml("<n><d>\u0661\u0662</d></n>") == (
        node(Label(STRING, "n"), (
            node(Label(STRING, "d"), (node(Label(STRING, "\u0661\u0662")),)),
        )),
    )
    # namespaced tags and attributes decode to their local names
    assert decode_xml('<p:a xmlns:p="urn:p" p:href="x"><p:b/></p:a>') == (
        node(Label(STRING, "a"), (
            node(Label(STRING, "href"), (node(Label(STRING, "x")),)),
            node(Label(STRING, "b")),
        )),
    )


def test_xml_validate_python():
    g = parse("a: b == 5")
    assert validate(g, decode_xml("<a><b>5</b></a>"))
    assert not validate(g, decode_xml("<a><b>6</b></a>"))


def test_xml_validate_column(spark):
    docs = ["<a><b>5</b></a>", "<a><b>6</b></a>", "not xml", None]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    got = [r["m"] for r in df.select(
        validate_xml_column(F.col("doc"), "a: b == 5").alias("m")).collect()]
    assert got == [True, False, False, False]


def test_xml_deep_document(spark):
    """A valid 3000-deep document decodes without recursion: the column,
    the event batch and decode_xml + validate all accept it."""
    deep = "<a>" * 3000 + "</a>" * 3000
    docs = [deep, deep.replace("<a></a>", "<b></b>")]
    for spec, want in (("a: a: a: *", [True, True]),
                       ("a: a: b: *", [False, False]),
                       ("a: .a: .a: .a: .a: *", [True, True])):
        g = parse(spec)
        assert [validate(g, decode_xml(d)) for d in docs] == want, spec
        assert list(xml_verdicts(TableValidator(g.sgrammar), docs)) == want
        df = spark.createDataFrame([(d,) for d in docs], "doc string")
        got = [r["m"] for r in df.select(
            validate_xml_column(F.col("doc"), spec).alias("m")).collect()]
        assert got == want, spec


def test_host_and_heavy_hitters(spark):
    rows = [(f"https://big.example.com/{i}",) for i in range(80)] + [
        (f"https://tail{i}.example.com/x",) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "url string")
    hosts = skew.with_host(df)
    assert hosts.filter("host = 'big.example.com'").count() == 80
    hh = skew.heavy_hitters(hosts, F.col("host"), min_fraction=0.5).collect()
    assert [r["key"] for r in hh] == ["big.example.com"]
    # exact path: same verdict, exact count, total derived from the
    # histogram (no second scan)
    hx = skew.heavy_hitters(hosts, F.col("host"), min_fraction=0.5,
                            approx=False).collect()
    assert [(r["key"], r["cnt"]) for r in hx] == [("big.example.com", 80)]
    # approx path on a single batch is exact too
    hh1 = skew.heavy_hitters(hosts.coalesce(1), F.col("host"),
                             min_fraction=0.5).collect()
    assert [(r["key"], r["cnt"]) for r in hh1] == [("big.example.com", 80)]


def test_heavy_hitters_null_keys_agree(spark):
    """Exact and approx modes must return the same verdict on a null-heavy
    column: NULLs are coalesced to the NULL_KEY sentinel in BOTH paths
    (the approx path reserves real NULL as its per-batch total row)."""
    rows = [(None,)] * 80 + [(f"h{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "host string")
    exact = skew.heavy_hitters(df, F.col("host"), min_fraction=0.5,
                               approx=False).collect()
    approx = skew.heavy_hitters(df.coalesce(1), F.col("host"),
                                min_fraction=0.5, approx=True).collect()
    assert [(r["key"], r["cnt"]) for r in exact] == [(skew.NULL_KEY, 80)]
    assert [(r["key"], r["cnt"]) for r in approx] == [(skew.NULL_KEY, 80)]


def test_salted_join(spark):
    fact = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], "k long, v long"
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, name string")
    out = skew.salted_join(fact, dim, "k", n_salts=4)
    assert out.count() == 300
    assert out.filter("name = 'a'").count() == 100


def test_two_phase_agg(spark):
    df = spark.createDataFrame(
        [("g1", i % 17) for i in range(200)] + [("g2", i % 5) for i in range(50)],
        "g string, x long",
    )
    out = {r["g"]: r["distinct_count"] for r in
           skew.two_phase_agg(df, ["g"], "x", n_salts=4).collect()}
    assert out == {"g1": 17, "g2": 5}


def test_xml_attributes_decoded():
    """Attributes become leading child nodes (beyond the reference's
    Xml.hs:40 TODO); attrs=False restores reference drop-them parity."""
    from katydid_haskell_spark.relapse import parse, validate
    from katydid_haskell_spark.relapse.labels import INT, STRING, Label, node
    from katydid_haskell_spark.relapse.xml_source import decode_xml

    doc = '<a href="https://x.com" n="5"><b>hi</b></a>'
    f = decode_xml(doc)
    assert f == (
        node(Label(STRING, "a"), (
            node(Label(STRING, "href"), (node(Label(STRING, "https://x.com")),)),
            node(Label(STRING, "n"), (node(Label(INT, 5)),)),
            node(Label(STRING, "b"), (node(Label(STRING, "hi")),)),
        )),
    )
    assert validate(parse('a: .href ^= "https://"'), f)
    assert validate(parse("a: .n == 5"), f)
    assert not validate(parse("a: .n == 6"), f)
    # reference-parity mode: attributes dropped
    f0 = decode_xml(doc, attrs=False)
    assert f0 == (
        node(Label(STRING, "a"), (
            node(Label(STRING, "b"), (node(Label(STRING, "hi")),)),
        )),
    )


def test_xml_column_sees_attributes(spark):
    docs = ['<p id="7"><v>1</v></p>', '<p id="8"><v>1</v></p>', '<p><v>1</v></p>']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    got = [r["m"] for r in df.select(
        validate_xml_column(F.col("doc"), "p: .id == 7").alias("m")).collect()]
    assert got == [True, False, False]
    # reference-parity escape hatch: attrs=False drops attributes, so the
    # .id pattern can never match from the column path either
    got0 = [r["m"] for r in df.select(
        validate_xml_column(F.col("doc"), "p: .id == 7",
                            attrs=False).alias("m")).collect()]
    assert got0 == [False, False, False]
    # the event batch the column runs gives the same verdicts
    g = parse("p: .id == 7")
    tv = TableValidator(g.sgrammar)
    assert list(xml_verdicts(tv, docs)) == got
    assert list(xml_verdicts(tv, docs, attrs=False)) == got0
    assert [validate(g, decode_xml(d, attrs=False)) for d in docs] == got0


def test_heavy_hitters_approx_property_zipf_100k(spark):
    """Property gate for the approx (candidate pre-filter) mode at scale:
    on 100k Zipf-distributed host keys, across partitionings and seeds,
    (a) every true >= min_fraction key is reported, and (b) every
    reported count is a LOWER BOUND of the exact count (contributions
    from batches where the key fell under the local threshold are lost).

    (a) is guaranteed at the CANDIDATE level by the weighted-average
    argument (global share >= f implies local share >= f in some batch >
    the f/2 local threshold); surviving the final count filter
    additionally needs the key's mass in its locally-heavy batches to
    stay >= f*N — which holds whenever batches are statistically alike,
    the regime this fixture pins (hash-shuffled Zipf, no adversarial
    batch skew).
    """
    import numpy as np
    import pandas as pd

    min_fraction = 0.01
    for seed, parts in [(42, 8), (7, 32)]:
        rng = np.random.default_rng(seed)
        z = np.minimum(rng.zipf(1.3, size=100_000), 5000)
        pdf = pd.DataFrame({"host": [f"h{v}" for v in z]})
        exact_counts = pdf["host"].value_counts()
        true_heavy = set(
            exact_counts[exact_counts >= min_fraction * len(pdf)].index)
        assert len(true_heavy) >= 5  # the fixture must exercise the path

        df = spark.createDataFrame(pdf).repartition(parts)
        got = {r.key: r.cnt for r in skew.heavy_hitters(
            df, F.col("host"), min_fraction=min_fraction,
            approx=True).collect()}
        # (a) completeness on this distribution family
        missing = true_heavy - set(got)
        assert not missing, f"seed={seed} parts={parts} missed {missing}"
        # (b) lower-bound soundness — always, for every reported key
        for k, cnt in got.items():
            assert cnt <= int(exact_counts.get(k, 0)), (seed, parts, k)
