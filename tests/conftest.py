import functools
import math

import pytest


@pytest.fixture(scope="session")
def spark():
    from katydid_haskell_spark.session import get_spark

    s = get_spark("katydid-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


def normalize(rows, columns):
    """Sort columns by name, normalize values, return sorted tuple set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 6)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def spark_result(df):
    """(lower-cased column names, normalized rows) of a Spark frame."""
    cols = [c.lower() for c in df.columns]
    return cols, normalize([tuple(r) for r in df.collect()], cols)


@functools.lru_cache(maxsize=1)
def oracles():
    """``oracle_sql()`` of the entry module, built once per session."""
    import __spark_entry__ as entry_mod

    return entry_mod.oracle_sql()


def oracle_result(name, con=None, **tables):
    """(lower-cased column names, normalized rows) of the named
    ``oracle_sql()`` text, run on ``con`` or, without one, on a fresh
    DuckDB connection over the given in-memory pandas tables
    (``documents=pdf``).

    Rows go through pandas, as the driver reads them: DuckDB HUGEINT
    (e.g. SUM(CASE..)) lands as float64 there, so an un-CAST oracle
    produces "53.0" vs Spark's "53" — fetchall() would hide that."""
    import duckdb

    own = con is None
    if own:
        con = duckdb.connect()
    try:
        for t, pdf in tables.items():
            con.register(t, pdf)
        pdf = con.sql(oracles()[name]).df()
    finally:
        if own:
            con.close()
    cols = [c.lower() for c in pdf.columns]
    return cols, normalize(
        list(pdf.itertuples(index=False, name=None)), cols)


def entry_and_oracle(spark, name, tmp_path, **tables):
    """``spark_result`` of entry query ``name`` and ``oracle_result`` of
    its oracle SQL over the same in-memory pandas tables; the query reads
    them as ``<table>.parquet`` files written under ``tmp_path``."""
    import __spark_entry__ as entry_mod

    for t, pdf in tables.items():
        pdf.to_parquet(tmp_path / f"{t}.parquet", index=False)
    got = spark_result(entry_mod.queries()[name](spark, str(tmp_path)))
    return got, oracle_result(name, **tables)
