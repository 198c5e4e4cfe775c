"""Byte-identity gate for the ``__spark_entry__.oracle_sql()`` text.

Each recorded key's SQL text must hash to the sha256 stored in
``fixtures/oracle_sql_sha256.json``; a refactor of the entry module may
move parameters around but must not change one byte of an existing
oracle.  Keys added after the fixture was captured pass unchecked.

The fixture was captured with ``SPARK_GRAFT_ORACLE_SF_DIR`` unset.  Some
oracle builders render numbers read from the parquet of that default
scale-factor directory (their text differs between sf0.001 and sf0.01:
``ann_topk_ivf``, ``bpe_train``, ``pq_codes``, ``semantic_decontam``,
``semantic_dedup``, ``stream_semantic_route``, ``temperature_sample``).
Their hashes also pin that test data and the float formatting of the
libraries that read it, so a change there fails this test as an oracle
edit would.  To re-capture after a deliberate, flagged oracle edit, with
that variable unset::

    python -c "import json, hashlib, __spark_entry__ as e; print(json.dumps(
        {k: hashlib.sha256(v.encode()).hexdigest()
         for k, v in e.oracle_sql().items()}, indent=1, sort_keys=True))"
"""

import hashlib
import json
import os

import pytest

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "oracle_sql_sha256.json")


@pytest.fixture(scope="module")
def oracles():
    import __spark_entry__ as e

    saved = os.environ.pop("SPARK_GRAFT_ORACLE_SF_DIR", None)
    try:
        return e.oracle_sql()
    finally:
        if saved is not None:
            os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = saved


def test_every_recorded_oracle_text_is_unchanged(oracles):
    with open(FIXTURE) as f:
        recorded = json.load(f)
    missing = sorted(set(recorded) - set(oracles))
    assert not missing, f"recorded oracle keys gone: {missing}"
    changed = sorted(
        k for k, h in recorded.items()
        if hashlib.sha256(oracles[k].encode()).hexdigest() != h)
    assert not changed, f"oracle_sql() text changed for: {changed}"

