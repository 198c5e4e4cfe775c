"""The relapse executor entry drops cached zip importers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
and on CPython 3.10-3.12 that re-reads the archive directory of every
cached ``zipimport.zipimporter`` (``pyspark.zip``, the py4j zip, the
spark-core jar).  ``automaton.table_validator_for`` removes those entries
from ``sys.path_importer_cache`` (``automaton._drop_zip_importers``).
These tests check that imports keep working afterwards, without the
archive being read again, on the driver, in a Spark worker and in the
``--py-files`` layout where the package itself is zip-imported."""

import importlib
import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from katydid_haskell_spark.relapse.automaton import _drop_zip_importers
from katydid_haskell_spark.relapse.xml_source import validate_xml_column

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_importers() -> list:
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_drop_keeps_zip_imports_working(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("kh_zip_mod_a.py", "A = 1\n")
        z.writestr("kh_zip_mod_b.py", "B = 2\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("kh_zip_mod_a", "kh_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("kh_zip_mod_a").A == 1
    assert archive in _zip_importers()
    files = zipimport._zip_directory_cache[archive]
    file_finders = {p: f for p, f in sys.path_importer_cache.items()
                    if not isinstance(f, zipimport.zipimporter)}

    _drop_zip_importers()
    assert _zip_importers() == []
    for p, f in file_finders.items():
        assert sys.path_importer_cache.get(p) is f

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real_read(path))
    importlib.invalidate_caches()  # what the worker runs before each task
    assert importlib.import_module("kh_zip_mod_b").B == 2
    # the importer was re-created from the module-level directory cache
    assert reads == []
    assert zipimport._zip_directory_cache[archive] is files
    assert archive in _zip_importers()


def test_worker_keeps_no_zip_importer_after_relapse_batch(spark):
    df = (spark.createDataFrame([("<a><b>5</b></a>",), ("<a><b>6</b></a>",)]
                                * 16, "doc string").repartition(16))
    got = df.select(validate_xml_column(F.col("doc"), "a: b == 5").alias("m"))
    assert sorted(r["m"] for r in got.collect()) == [False] * 16 + [True] * 16

    @pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        ran = bool(getattr(sys.modules.get(
            "katydid_haskell_spark.relapse.automaton"), "_TABLES", None))
        return pd.Series([f"{os.getpid()} {ran} {n}"] * len(x))

    rows = spark.range(0, 16, numPartitions=16).select(
        probe(F.col("id").cast("string")).alias("p")).collect()
    workers = {tuple(r["p"].split()) for r in rows}
    # a worker forked after the relapse job still holds the daemon's
    # importers; every worker that ran a relapse batch must hold none
    ran = {w for w in workers if w[1] == "True"}
    assert ran, workers
    assert all(w[2] == "0" for w in ran), workers


_CHILD = """
import sys, zipimport
import katydid_haskell_spark
assert isinstance(katydid_haskell_spark.__loader__, zipimport.zipimporter)
from katydid_haskell_spark.relapse.automaton import table_validator_for

def zip_importers():
    return sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())

tv = table_validator_for('.a == 1')
print([bool(v) for v in tv.validate_batch(
    ['{"a": 1}', '{"a": 2}', None, 'nope'])])
print(zip_importers())

reads = []
real_read = zipimport._read_directory
zipimport._read_directory = lambda p: reads.append(p) or real_read(p)
assert 'katydid_haskell_spark.relapse.protobuf_source' not in sys.modules
from katydid_haskell_spark.relapse import protobuf_source as pb
desc = {"Doc": {1: pb.Field("title", "string")}}
tv = table_validator_for('.title == "t"')
print([bool(v) for v in pb.protobuf_verdicts(
    tv, [pb.encode_string(1, "t"), pb.encode_string(1, "u"), None,
         b"\\xff"], desc, "Doc")])
print(zip_importers(), len(reads))
"""


def test_py_files_layout(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "submit_validation", os.path.join(ROOT, "scripts",
                                          "submit_validation.py"))
    submit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(submit)
    archive = submit.make_zip(str(tmp_path / "katydid_haskell_spark.zip"))

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = archive
    out = subprocess.run([sys.executable, "-c", textwrap.dedent(_CHILD)],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split("\n")[:4] == [
        "[True, False, False, False]",
        "0",
        "[True, False, False, False]",
        # no importer left, and the lazy import did not re-read the zip
        "0 0",
    ], out.stdout
