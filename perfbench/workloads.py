"""The three workloads: input set-up, one validation job, its output check,
the floor job and the per-layer probes of the traced run.

Each job is what one ``spark-submit`` of the product does: read the input,
compile the specs on the driver, run the Spark job and commit its output.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

import records as R
from katydid_haskell_spark import oracles
from katydid_haskell_spark.plans.pages_plan import (
    default_pages_plan,
    pages_baselines,
)
from katydid_haskell_spark.plans.runner import run_plan, run_resumable
from katydid_haskell_spark.relapse.automaton import (
    try_lower_json_spec,
    validate_json_column,
)
from katydid_haskell_spark.relapse.derive import Validator
from katydid_haskell_spark.relapse.labels import decode_json
from katydid_haskell_spark.relapse.lower import compile_to_column
from katydid_haskell_spark.relapse.parser import parse_grammar
from katydid_haskell_spark.relapse.protobuf_source import (
    decode_protobuf,
    validate_protobuf_column,
)
from katydid_haskell_spark.relapse.smart import compile_grammar
from katydid_haskell_spark.relapse.vpa import TableValidator
from katydid_haskell_spark.relapse.xml_source import (
    decode_xml,
    validate_xml_column,
)
from katydid_haskell_spark.sources import pages_fixture
from katydid_haskell_spark.sources.pages import (
    DEFAULT_BUCKETS,
    lang_dim_df,
    pages_df,
    write_pages,
)

PROBE_REPS = 3          # repetitions of each traced-run probe (median kept)
COMPILE_REPS = 21
SAMPLE = 10000          # documents in each driver-side engine probe
CROSSCHECK = 400        # documents cross-checked between VPA and derive

def timed(fn, *args, **kw):
    t = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t, out


def median_time(fn, reps=PROBE_REPS):
    return statistics.median(timed(fn)[0] for _ in range(reps))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def compile_probe(specs, tracer) -> dict:
    """Driver compile of every spec: parse, then smart-compile (ms).  Each
    takes well under a millisecond, so the median is over more repetitions
    than the other probes use."""
    def parse_all():
        return [parse_grammar(s) for s in specs]

    asts = parse_all()
    with tracer.span("relapse.parser.parse_grammar", job="probe"):
        parse_s = median_time(parse_all, COMPILE_REPS)
    with tracer.span("relapse.smart.compile_grammar", job="probe"):
        smart_s = median_time(lambda: [compile_grammar(a) for a in asts],
                              COMPILE_REPS)
    return {"parser.parse_ms": 1e3 * parse_s, "smart.compile_ms": 1e3 * smart_s}


def write_docs(table: pa.Table, path: str, files: int) -> None:
    """Split the table over ``files`` parquet files, as a producer would
    leave it; a single file would be one row group, hence one task."""
    fresh_dir(path)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


class PagesSuite:
    """``scripts/submit_validation.py``: the fused pages CheckPlan via
    ``run_resumable`` into a fresh checkpoint, checked against the DuckDB
    oracle ``oracles.pages_verdicts_sql``."""

    name = "pages_suite"
    rows = 5000
    crosscheck_ok = True  # no second engine runs these rules

    def __init__(self, spark, out, seed, tracer):
        self.spark, self.out, self.seed, self.tracer = spark, out, seed, tracer
        self.path = os.path.join(out, "pages")
        self.docs = self.rows

    def setup(self) -> dict:
        spark, tr = self.spark, self.tracer
        with tr.span("sources.pages.write_pages"):
            write_s, _ = timed(write_pages, spark, self.path, self.rows,
                               self.seed, DEFAULT_BUCKETS)

        def baselines():
            hists = pages_baselines(
                spark, pages_df(spark, self.rows, self.seed, drifted=False))
            return {k: spark.createDataFrame(h.collect(), h.schema)
                    for k, h in hists.items()}

        with tr.span("plans.pages_plan.pages_baselines"):
            base_s, self.baselines = timed(baselines)
        return {"pages.write_s": write_s, "drift.baselines_s": base_s}

    def prepare_check(self) -> None:
        import duckdb

        # The oracle regenerates the corpus Spark-free.  Its fixtures go to
        # a fresh directory of this run, never to a shared cache.
        fixtures = fresh_dir(os.path.join(self.out, "oracle"))
        orig = pages_fixture.ensure_pages_fixture
        pages_fixture.ensure_pages_fixture = functools.partial(
            orig, out_dir=fixtures)
        try:
            sql = oracles.pages_verdicts_sql(self.rows, self.seed,
                                             DEFAULT_BUCKETS, "bench")
        finally:
            pages_fixture.ensure_pages_fixture = orig
        con = duckdb.connect()
        try:
            rows = con.execute(sql).fetchall()
            pages = (f"read_parquet('{fixtures}/pages_{self.rows}_{self.seed}"
                     f"_{DEFAULT_BUCKETS}_drift.parquet')")
            n, texts, urls = con.execute(
                f"SELECT COUNT(*), COUNT(DISTINCT text), COUNT(DISTINCT url) "
                f"FROM {pages}").fetchone()
        finally:
            con.close()
        self.expected = {(r[0], r[1]): (bool(r[2]), float(r[3]), int(r[4]))
                         for r in rows}
        self.properties = {
            "rows": n,
            # one node per field plus its value leaf: url, warc_ts, html,
            # text, lang and bucket
            "nodes_per_doc": 12,
            "distinct_text_share": round(texts / n, 4),
            "distinct_signature_share": None,  # no automaton walk
            "duplicate_url_share": round(1 - urls / n, 4),
        }

    def _plan(self):
        return default_pages_plan(expect_rows=self.rows)

    def _inputs(self):
        return (self.spark.read.parquet(self.path),
                {"lang_dim": lang_dim_df(self.spark)})

    def job(self, j: int) -> str:
        ckpt = os.path.join(self.out, "ckpt", str(j))
        shutil.rmtree(ckpt, ignore_errors=True)
        pages, dims = self._inputs()
        with self.tracer.span("plans.runner.run_resumable"):
            run_resumable(pages, self._plan(), ckpt, dims=dims,
                          baselines=self.baselines, snapshot="bench")
        return ckpt

    def check(self, ckpt: str) -> bool:
        t = pads.dataset(os.path.join(ckpt, "verdicts"), format="parquet",
                         partitioning="hive").to_table().to_pylist()
        got = {}
        for r in t:
            got[(int(r["bucket_id"]), r["rule_id"])] = (
                r["pass"], r["metric"], r["rows_checked"] or 0)
        self.sink_bytes = dir_bytes(ckpt)
        if len(t) != len(self.expected) or got.keys() != self.expected.keys():
            return False
        expect_distinct = int(self.rows * 0.9)
        for key, (ok, metric, checked) in self.expected.items():
            g_ok, g_metric, g_checked = got[key]
            if key[1] == "url_distinct":
                # HLL estimate (merged per-bucket sketches) against the
                # oracle's exact count: within 5%, and the verdict agrees
                # with the estimate it reports
                if (abs(g_metric - metric) > 0.05 * metric
                        or g_ok != (g_metric >= expect_distinct)):
                    return False
                continue
            if (g_ok != ok or g_checked != checked
                    or abs(g_metric - metric) > 2e-6):
                return False
        return True

    def clean(self, ckpt: str) -> None:
        shutil.rmtree(ckpt, ignore_errors=True)

    def layers(self, setup_parts, job_times) -> dict:
        spark, tr = self.spark, self.tracer
        plan = self._plan()
        specs = [r.spec for r in plan.row_rules]
        out = compile_probe(specs, tr)
        pages, dims = self._inputs()
        schema = pages.schema

        grammars = [compile_grammar(parse_grammar(s)) for s in specs]

        def lower_all():
            return [compile_to_column(g, schema) for g in grammars]

        with tr.span("relapse.lower.compile_to_column", job="probe"):
            out["lower.compile_ms"] = 1e3 * median_time(lower_all)
        out["lower.catalyst_rules"] = len(lower_all())

        ver, vio = [], []
        for _ in range(PROBE_REPS):
            with tr.span("plans.runner.run_plan[noop]", job="probe"):
                res = run_plan(pages, plan, dims, self.baselines,
                               snapshot="bench")
                with tr.span("checkplan.verdicts[noop]"):
                    ver.append(timed(noop, res.verdicts)[0])
                with tr.span("checkplan.violations[noop]"):
                    vio.append(timed(noop, res.violations)[0])
        out["checkplan.verdicts_s"] = statistics.median(ver)
        out["checkplan.violations_s"] = statistics.median(vio)
        noop_s = statistics.median(a + b for a, b in zip(ver, vio))
        out["runner.sink_overhead_s"] = (statistics.median(job_times)
                                         - noop_s)

        cols = ["url", "warc_ts", "text", "lang", "bucket"]
        with tr.span("sources.pages.scan[noop]", job="probe"):
            out["pages.scan_s"] = median_time(
                lambda: noop(spark.read.parquet(self.path).select(*cols)))

        out["runner.sink_bytes"] = self.sink_bytes
        out["pages.write_s"] = statistics.median(
            p["pages.write_s"] for p in setup_parts)
        out["drift.baselines_s"] = statistics.median(
            p["drift.baselines_s"] for p in setup_parts)
        return out


def identity_udf(type_name: str):
    def ident(s: pd.Series) -> pd.Series:
        return s

    return pandas_udf(ident, type_name)


class _Records:
    """Set-up shared by the two record workloads."""

    def __init__(self, spark, out, seed, tracer):
        self.spark, self.out, self.seed, self.tracer = spark, out, seed, tracer
        self.path = os.path.join(out, "docs")
        # One input file per core.  Spark reads each as one task, and a
        # task's rows fit in one Arrow batch (maxRecordsPerBatch is 10000),
        # so a UDF call sees one file's rows.
        self.files = spark.sparkContext.defaultParallelism
        self.batch_rows = -(-self.rows // self.files)

    def setup(self) -> dict:
        with self.tracer.span("perfbench.records"):
            recs = R.make_records(self.rows, self.seed)
            table = self.encode(recs)
            write_docs(table, self.path, self.files)
        self.recs = recs
        return {}

    def crosscheck(self) -> bool:
        """VPA over the JSON text, derive.Validator over the JSON, XML and
        protobuf forests, and the Python predicate must agree."""
        sample = self.recs[:CROSSCHECK]
        texts = [R.to_json(r) for r in sample]
        for spec, pred in R.JSON_SPECS:
            g = compile_grammar(parse_grammar(spec))
            want = [pred(r) for r in sample]
            vpa = [bool(x) for x in TableValidator(g).validate_batch(texts)]
            v = Validator(g)
            der = [v.validate(decode_json(t)) for t in texts]
            if not vpa == der == want:
                return False
        want = [R.keep(r) for r in sample]
        vx = Validator(compile_grammar(parse_grammar(R.XML_FILTER_SPEC)))
        vp = Validator(compile_grammar(parse_grammar(R.FILTER_SPEC)))
        xml = [vx.validate(decode_xml(R.to_xml(r))) for r in sample]
        pbv = [vp.validate(decode_protobuf(R.PROTO_DESC, R.PROTO_MSG,
                                           R.to_proto(r))) for r in sample]
        return xml == pbv == want

    def floor(self, build) -> float:
        """The same job shape with an identity pandas UDF on the same
        column: the Arrow round trip no UDF-side work can avoid."""
        with self.tracer.span("automaton.arrow_floor", job="probe"):
            return median_time(build)


class JsonDocs(_Records):
    """``automaton.validate_json_column(fast=True)`` over seeded JSON
    documents; valid counts per group."""

    name = "json_docs"
    rows = 30000

    @property
    def docs(self):
        return self.rows

    def encode(self, recs):
        return pa.table({
            "id": [r["id"] for r in recs],
            "grp": [R.group_of(r) for r in recs],
            "doc": [R.to_json(r) for r in recs],
        })

    def prepare_check(self) -> None:
        recs = self.recs
        exp = {}
        for r in recs:
            row = exp.setdefault(R.group_of(r), [0] * (1 + len(R.JSON_SPECS)))
            row[0] += 1
            for i, (_, pred) in enumerate(R.JSON_SPECS):
                row[1 + i] += pred(r)
        self.expected = {g: tuple(v) for g, v in exp.items()}
        texts = [R.to_json(r) for r in recs]
        self.properties = R.properties(recs, texts)
        self.crosscheck_ok = self.crosscheck()

    def job(self, j):
        df = self.spark.read.parquet(self.path)
        with self.tracer.span("automaton.validate_json_column"):
            cols = [F.sum(validate_json_column(F.col("doc"), s, fast=True)
                          .cast("long")).alias(f"v{i}")
                    for i, (s, _) in enumerate(R.JSON_SPECS)]
        with self.tracer.span("spark.collect"):
            return df.groupBy("grp").agg(F.count(F.lit(1)).alias("n"),
                                         *cols).collect()

    def check(self, rows) -> bool:
        got = {r["grp"]: tuple(r[1:]) for r in rows}
        return got == self.expected

    def clean(self, _):
        pass

    def layers(self, setup_parts, job_times) -> dict:
        spark, tr = self.spark, self.tracer
        specs = [s for s, _ in R.JSON_SPECS]
        out = compile_probe(specs, tr)
        doc = F.col("doc")
        with tr.span("automaton.try_lower_json_spec", job="probe"):
            out["lower.compile_ms"] = 1e3 * median_time(
                lambda: [try_lower_json_spec(doc, s) for s in specs])
        udf_specs = [s for s in specs if try_lower_json_spec(doc, s) is None]
        out["lower.catalyst_rules"] = len(specs) - len(udf_specs)

        texts = [R.to_json(r) for r in self.recs[:SAMPLE]]
        step = self.batch_rows
        chunks = [texts[k:k + step] for k in range(0, len(texts), step)]
        with tr.span("relapse.vpa.TableValidator", job="probe"):
            tvs = [TableValidator(compile_grammar(parse_grammar(s)))
                   for s in udf_specs]
            cold = sum(timed(tv.validate_batch, chunks[0])[0] for tv in tvs)

            def warm():
                for tv in tvs:
                    for c in chunks:
                        tv.validate_batch(c)

            warm_s = median_time(warm)
        out["vpa.cold_batch_ms"] = 1e3 * cold
        out["vpa.docs_per_s"] = len(texts) / warm_s
        out["vpa.states"] = sum(len(tv.states) for tv in tvs)
        out["vpa.call_transitions"] = sum(len(tv.call_cache) for tv in tvs)
        out["vpa.return_transitions"] = sum(len(tv.ret_cache) for tv in tvs)

        df = spark.read.parquet(self.path)
        ident = identity_udf("string")
        out["automaton.arrow_floor_s"] = self.floor(
            lambda: df.groupBy("grp").agg(
                F.count(F.lit(1)), F.sum(F.length(ident(F.col("doc"))))
            ).collect())
        return out


class XmlProtoFilter(_Records):
    """The reference's ``filter`` over XML text and protobuf bytes of the
    same records: ``validate_xml_column`` and ``validate_protobuf_column``,
    matching documents written as parquet."""

    name = "xml_proto_filter"
    rows = 10000

    @property
    def docs(self):
        return 2 * self.rows

    def encode(self, recs):
        return pa.table({
            "id": [r["id"] for r in recs],
            "xml": [R.to_xml(r) for r in recs],
            "pb": pa.array([R.to_proto(r) for r in recs], pa.binary()),
        })

    def prepare_check(self) -> None:
        recs = self.recs
        self.expected = sorted(r["id"] for r in recs if R.keep(r))
        self.properties = R.properties(recs, [R.to_xml(r) for r in recs])
        self.crosscheck_ok = self.crosscheck()

    def _sinks(self, j):
        base = os.path.join(self.out, "filtered", str(j))
        return os.path.join(base, "xml"), os.path.join(base, "pb")

    def job(self, j):
        df = self.spark.read.parquet(self.path)
        with self.tracer.span("xml_source.validate_xml_column"):
            ok_xml = validate_xml_column(F.col("xml"), R.XML_FILTER_SPEC)
        with self.tracer.span("protobuf_source.validate_protobuf_column"):
            ok_pb = validate_protobuf_column(F.col("pb"), R.FILTER_SPEC,
                                             R.PROTO_DESC, R.PROTO_MSG)
        out_xml, out_pb = self._sinks(j)
        with self.tracer.span("spark.write"):
            df.filter(ok_xml).select("id", "xml").write.mode(
                "overwrite").parquet(out_xml)
            df.filter(ok_pb).select("id", "pb").write.mode(
                "overwrite").parquet(out_pb)
        return j

    def check(self, j) -> bool:
        for path in self._sinks(j):
            ids = pq.read_table(path, columns=["id"]).column("id").to_pylist()
            if sorted(ids) != self.expected:
                return False
        return True

    def clean(self, j):
        shutil.rmtree(os.path.dirname(self._sinks(j)[0]), ignore_errors=True)

    def layers(self, setup_parts, job_times) -> dict:
        spark, tr = self.spark, self.tracer
        out = compile_probe([R.XML_FILTER_SPEC, R.FILTER_SPEC], tr)
        sample = self.recs[:SAMPLE]
        xml = [R.to_xml(r) for r in sample]
        raw = [R.to_proto(r) for r in sample]
        with tr.span("relapse.xml_source.decode_xml", job="probe"):
            xs = median_time(lambda: [decode_xml(x) for x in xml])
        with tr.span("relapse.protobuf_source.decode_protobuf", job="probe"):
            ps = median_time(lambda: [
                decode_protobuf(R.PROTO_DESC, R.PROTO_MSG, b) for b in raw])
        out["xml_source.decode_per_s"] = len(xml) / xs
        out["protobuf_source.decode_per_s"] = len(raw) / ps

        forests = ([decode_xml(x) for x in xml],
                   [decode_protobuf(R.PROTO_DESC, R.PROTO_MSG, b) for b in raw])
        grammars = [compile_grammar(parse_grammar(s))
                    for s in (R.XML_FILTER_SPEC, R.FILTER_SPEC)]

        validators = [Validator(g) for g in grammars]
        step = self.batch_rows

        def reused():
            for v, fs in zip(validators, forests):
                for f in fs:
                    v.validate(f)

        def fresh():
            for g, fs in zip(grammars, forests):
                for k in range(0, len(fs), step):
                    v = Validator(g)
                    for f in fs[k:k + step]:
                        v.validate(f)

        with tr.span("relapse.derive.Validator", job="probe"):
            reused()  # memo tables warm, as in a long-lived executor
            out["derive.docs_per_s"] = 2 * len(sample) / median_time(reused)
            out["derive.fresh_docs_per_s"] = (2 * len(sample)
                                              / median_time(fresh))

        df = spark.read.parquet(self.path)
        ident_s = identity_udf("string")
        ident_b = identity_udf("binary")
        floor_out = os.path.join(self.out, "floor")

        def floor_job():
            df.filter(ident_s(F.col("xml")).isNotNull()).select(
                "id", "xml").write.mode("overwrite").parquet(floor_out + "/x")
            df.filter(ident_b(F.col("pb")).isNotNull()).select(
                "id", "pb").write.mode("overwrite").parquet(floor_out + "/p")

        out["automaton.arrow_floor_s"] = self.floor(floor_job)
        return out


WORKLOADS = {w.name: w for w in (PagesSuite, JsonDocs, XmlProtoFilter)}
