"""Seeded records for the ``json_docs`` and ``xml_proto_filter`` workloads.

One record generator feeds three encodings of the same records: JSON text,
XML text and protobuf wire bytes.  Every document text is unique (each
record carries its own id, url path, user name, tag words and item skus),
while the *shape* -- the record's structure plus the outcome of every
predicate atom the specs test -- is drawn from a small skewed space, so
shapes repeat the way real event corpora do.  The reference verdicts are
plain Python predicates over the record fields, written independently of
the Relapse engines.
"""

from __future__ import annotations

import json
import random
import re

from katydid_haskell_spark.relapse import protobuf_source as pb

COUNTRIES_IN = ("us", "de", "fr", "jp")
COUNTRIES_OUT = ("br", "in", "ng", "mx", "kr", "es")
N_HOSTS = 200
DUP_URL_SHARE = 0.03   # records that reuse an earlier record's url
P_HTTPS = 0.8
P_ADULT = 0.7
P_COUNTRY_IN = 0.6
P_BAD_TAG = 0.08       # per tag: not all-lowercase
P_BAD_QTY = 0.08       # per item: qty <= 0
GROUPS = 8

_LOWER = re.compile(r"[a-z]+")


def keep(r: dict) -> bool:
    """The reference's ``filter``: an https url, lowercase tags and
    positive quantities."""
    return (r["url"].startswith("https://")
            and all(_LOWER.fullmatch(t) for t in r["tags"])
            and all(i["qty"] > 0 for i in r["items"]))


# Spec -> reference predicate.  The first three are field-anchored and lower
# to Catalyst/VariantType; the last three need the automaton (VPA) path.
JSON_SPECS = (
    ('.url ^= "https://"', lambda r: r["url"].startswith("https://")),
    (".user: .age >= 18", lambda r: r["user"]["age"] >= 18),
    ('.user: .country *= []string{"us","de","fr","jp"}',
     lambda r: r["user"]["country"] in COUNTRIES_IN),
    ('.tags: (_: ~= "^[a-z]+$")*',
     lambda r: all(_LOWER.fullmatch(t) for t in r["tags"])),
    (".items: (_: .qty > 0)*", lambda r: all(i["qty"] > 0 for i in r["items"])),
    ('(.url ^= "https://" & .tags: (_: ~= "^[a-z]+$")* '
     '& .items: (_: .qty > 0)*)',
     keep),
)

# The filter spec.  JSON and protobuf decode to a forest of field nodes;
# XML has one root element, so its spec names it.
FILTER_SPEC = JSON_SPECS[-1][0]
XML_FILTER_SPEC = "rec: " + FILTER_SPEC

PROTO_DESC = {
    "Rec": {
        1: pb.Field("id", "int64"),
        2: pb.Field("url", "string"),
        3: pb.Field("user", "message", message="User"),
        4: pb.Field("tags", "string", repeated=True),
        5: pb.Field("items", "message", repeated=True, message="Item"),
    },
    "User": {
        1: pb.Field("name", "string"),
        2: pb.Field("age", "int64"),
        3: pb.Field("country", "string"),
    },
    "Item": {1: pb.Field("sku", "string"), 2: pb.Field("qty", "int64")},
}
PROTO_MSG = "Rec"


def _word(x: int) -> str:
    """Unique lowercase word for a non-negative int (bijective base 26)."""
    out = []
    x += 1
    while x:
        x, d = divmod(x - 1, 26)
        out.append(chr(97 + d))
    return "".join(out)


def make_records(n: int, seed: int) -> list:
    rng = random.Random(seed)
    base = rng.getrandbits(40)
    recs = []
    for i in range(n):
        uid = base + i
        if i and rng.random() < DUP_URL_SHARE:
            url = recs[rng.randrange(i)]["url"]
        else:
            scheme = "https" if rng.random() < P_HTTPS else "http"
            url = (f"{scheme}://h{rng.randrange(N_HOSTS)}.example.com"
                   f"/p/{uid:x}")
        adult = rng.random() < P_ADULT
        tags = []
        for k in range(rng.randint(1, 4)):
            w = _word(uid * 4 + k)
            tags.append(w.capitalize() if rng.random() < P_BAD_TAG else w)
        items = [{"sku": f"S{uid:x}{k}",
                  "qty": (-rng.randrange(0, 50) if rng.random() < P_BAD_QTY
                          else rng.randint(1, 50))}
                 for k in range(rng.randint(1, 3))]
        recs.append({
            "id": i,
            "url": url,
            "user": {
                "name": f"u{uid:x}",
                "age": rng.randint(18, 90) if adult else rng.randint(1, 17),
                "country": rng.choice(COUNTRIES_IN if rng.random() < P_COUNTRY_IN
                                      else COUNTRIES_OUT),
            },
            "tags": tags,
            "items": items,
        })
    return recs


def group_of(r: dict) -> int:
    return r["id"] % GROUPS


def to_json(r: dict) -> str:
    return json.dumps(r, separators=(",", ":"))


def to_xml(r: dict) -> str:
    u = r["user"]
    return (
        f"<rec><id>{r['id']}</id><url>{r['url']}</url>"
        f"<user><name>{u['name']}</name><age>{u['age']}</age>"
        f"<country>{u['country']}</country></user>"
        "<tags>" + "".join(f"<t>{t}</t>" for t in r["tags"]) + "</tags>"
        "<items>" + "".join(f"<i><sku>{i['sku']}</sku><qty>{i['qty']}</qty></i>"
                            for i in r["items"]) + "</items></rec>"
    )


def to_proto(r: dict) -> bytes:
    u = r["user"]
    user = (pb.encode_string(1, u["name"]) + pb.encode_int64(2, u["age"])
            + pb.encode_string(3, u["country"]))
    out = [pb.encode_int64(1, r["id"]), pb.encode_string(2, r["url"]),
           pb.encode_message_field(3, user)]
    out += [pb.encode_string(4, t) for t in r["tags"]]
    out += [pb.encode_message_field(
        5, pb.encode_string(1, i["sku"]) + pb.encode_int64(2, i["qty"]))
        for i in r["items"]]
    return b"".join(out)


def signature(r: dict) -> tuple:
    """Structure plus the outcome of every predicate atom: what the
    automaton's per-document walk depends on, with the values dropped."""
    return (
        r["url"].startswith("https://"),
        r["user"]["age"] >= 18,
        r["user"]["country"] in COUNTRIES_IN,
        tuple(bool(_LOWER.fullmatch(t)) for t in r["tags"]),
        tuple(i["qty"] > 0 for i in r["items"]),
    )


def nodes(r) -> int:
    """Tree nodes of the JSON encoding (an object field or array element is
    one node over its value's forest; a scalar is one leaf)."""
    if isinstance(r, dict):
        return sum(1 + nodes(v) for v in r.values())
    if isinstance(r, list):
        return sum(1 + nodes(v) for v in r)
    return 1


def properties(recs: list, texts: list) -> dict:
    n = len(recs)
    return {
        "rows": n,
        "nodes_per_doc": round(sum(nodes(r) for r in recs) / n, 2),
        "distinct_text_share": round(len(set(texts)) / n, 4),
        "distinct_signature_share": round(
            len({signature(r) for r in recs}) / n, 4),
        "duplicate_url_share": round(
            1 - len({r["url"] for r in recs}) / n, 4),
    }
