"""CheckPlan: a compiled suite of constraint rules over one table.

The Spark lifecycle from SURVEY.md §3: Relapse-style specs + table-level
constraint classes compile on the driver into a plan of

  - **row rules** — Relapse specs lowered to boolean Catalyst Columns
    (:mod:`..relapse.lower`), ALL evaluated in a single scan, with a fused
    per-bucket rollup (one partial+final aggregation) and a violations
    explode from the same pass;
  - **table rules** — stats and referential integrity (riding the same
    rollup), drift (one grouping-sets histogram scan + tiny full-outer
    join), uniqueness (key shuffle).

:func:`run_plan_fused` runs the whole plan; :mod:`.runner` writes its sinks.

Sinks (FIXTURES.md §6):
  violations: url string, rule_id string, detail string
  verdicts:   bucket_id int, rule_id string, pass boolean, metric double,
              rows_checked long, snapshot string
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import drift as drift_ops
from ..operators import skew as skew_ops
from ..operators import stats as stats_ops
from ..operators import uniqueness as uniq_ops
from ..relapse import parser as relapse_parser
from ..relapse.lower import LoweringUnsupported, compile_to_column
from ..relapse.smart import compile_grammar

TABLE_SCOPE_BUCKET = -1


@dataclass(frozen=True)
class RowRule:
    """A Relapse spec evaluated per row (lowered to a Catalyst Column)."""

    rule_id: str
    spec: str
    detail: str = ""


@dataclass(frozen=True)
class UniqueRule:
    rule_id: str
    key: str


@dataclass(frozen=True)
class SkewSalt:
    """Opt-in skew handling for the uniqueness pass (north-star: 'salted
    for skewed hosts').

    When set, each uniqueness rule first detects heavy-hitter keys with
    ``skew.heavy_hitters(approx=True)`` (one slim Arrow pass over the key
    column, candidates-only shuffle) and routes rows with hot keys
    through a salted two-phase count (groupBy(key, salt) → groupBy(key))
    while cold keys take the direct aggregate.

    Scope note (measured honesty): for plain COUNT aggregates Spark's
    map-side combine already collapses duplicate keys per task, so
    salting is load-bearing mainly when (a) per-key state is
    non-algebraic (windowed duplicate-row reporting, collect-like aggs)
    or (b) upstream partitioning clusters a hot key into few tasks
    (host-partitioned crawl input — the Zipf-host case the north rule
    names).  The salted path is verdict-identical to the direct one
    (``test_fused_skew_salt_matches_plain``).
    """

    min_fraction: float = 0.01
    n_salts: int = 16


@dataclass(frozen=True)
class RefRule:
    rule_id: str
    fk: str
    dim_name: str  # key into the dims dict passed at run time
    dim_key: str


@dataclass(frozen=True)
class DriftRule:
    rule_id: str
    bucketizer: Callable[[], Column]  # () -> bucket Column over the table
    baseline_name: str  # key into the baselines dict passed at run time
    max_value: float = 0.2
    metric: str = "psi"


@dataclass
class CheckPlan:
    row_rules: List[RowRule] = field(default_factory=list)
    stat_rules: List[stats_ops.StatRule] = field(default_factory=list)
    unique_rules: List[UniqueRule] = field(default_factory=list)
    ref_rules: List[RefRule] = field(default_factory=list)
    drift_rules: List[DriftRule] = field(default_factory=list)

    def compile_row_columns(self, schema) -> Dict[str, Column]:
        """Lower every row rule against the schema — driver-side compile,
        mirrors Smart.compile + derivative unrolling."""
        out: Dict[str, Column] = {}
        for r in self.row_rules:
            g = compile_grammar(relapse_parser.parse_grammar(r.spec))
            out[r.rule_id] = compile_to_column(g, schema)
        return out


def _salted_duplicate_keys(df: DataFrame, key: str,
                           cfg: SkewSalt) -> DataFrame:
    """Skew-aware duplicate detection: hot keys (from the approx
    heavy-hitter sketch) count through a salted two-phase aggregate; cold
    keys aggregate directly.  Output schema identical to
    ``uniqueness.duplicate_keys``: (key, dup_count) with dup_count > 1.
    """
    hot = skew_ops.heavy_hitters(df, F.col(key), cfg.min_fraction,
                                 approx=True)
    hot_keys = hot.select(F.col("key").alias("__hot_key"))
    keyed = df.select(F.col(key))
    marked = keyed.join(
        F.broadcast(hot_keys),
        F.coalesce(F.col(key).cast("string"),
                   F.lit(skew_ops.NULL_KEY)) == F.col("__hot_key"),
        "left",
    )
    cold = (marked.filter(F.col("__hot_key").isNull())
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("dup_count")))
    salted = skew_ops.with_salt(
        marked.filter(F.col("__hot_key").isNotNull()), cfg.n_salts)
    partial = (salted.groupBy(key, "__salt")
               .agg(F.count(F.lit(1)).alias("__c")))
    hot_counts = (partial.groupBy(key)
                  .agg(F.sum("__c").cast("long").alias("dup_count")))
    return (cold.unionByName(hot_counts)
            .filter(F.col("dup_count") > 1))


def run_plan_fused(df: DataFrame, plan: CheckPlan,
                   dims: Dict[str, DataFrame],
                   baselines: Dict[str, DataFrame],
                   key_col: str = "url", bucket_col: str = "bucket",
                   snapshot: str = "na",
                   skew: Optional[SkewSalt] = None) -> tuple:
    """The whole plan in FOUR full-table passes:

      1. bucket rollup — row-rule pass counts, per-bucket stat partials
         (count/min/max/HLL sketch, all algebraic/mergeable) and
         referential orphan counts (broadcast left-join marker) in ONE
         groupBy(bucket); table-scope stat/ref verdicts re-aggregate the
         tiny per-bucket frame;
      2. violations — row-level failures (row rules + referential) from
         the same projection;
      3. drift — every drift histogram from one scan via GROUPING SETS;
      4. uniqueness — the key shuffle (inherently its own pass).

    At 10^12 rows passes are the budget; this is the shape you'd run.
    Estimated metrics merge per-bucket sketches: ``approx_distinct`` from
    DataSketches HLL (hll_sketch_agg), ``approx_pNN`` from KLL — both
    within the sketch's error of the exact value, not equal to it.  Exact
    ``distinct`` and ``pNN`` rules can't ride a per-bucket rollup and
    share one extra global pass.
    """
    spark = df.sparkSession
    rules = plan.row_rules
    cols = plan.compile_row_columns(df.schema) if rules else {}

    # referential markers: broadcast left join, orphan iff no dim match
    # (NULL fk never matches → counted as orphan, same as left_anti)
    work = df
    for i, r in enumerate(plan.ref_rules):
        dimk = (dims[r.dim_name]
                .select(F.col(r.dim_key).alias(f"__dimk_{i}"),
                        F.lit(True).alias(f"__ref_ok_{i}"))
                .dropDuplicates([f"__dimk_{i}"]))
        work = work.join(F.broadcast(dimk),
                         work[r.fk] == F.col(f"__dimk_{i}"), "left"
                         ).drop(f"__dimk_{i}")

    # Stat columns whose VALUE the rollup actually needs; columns used
    # only by null_rate/count rules are projected down to an is-not-null
    # BIT instead — on web tables that drops the widest column (text)
    # from the rollup's aggregation input entirely.  Strictly less data
    # through the hash aggregate (local A/B was within host noise; the
    # effect scales with the dropped column's width).
    VALUE_METRICS = {"min", "max", "mean", "approx_distinct"}
    value_cols = {r.column for r in plan.stat_rules
                  if r.metric in VALUE_METRICS
                  or r.metric.startswith("approx_p")}  # KLL rides rollup
    nullbit_cols = sorted(
        {r.column for r in plan.stat_rules
         if r.metric in ("null_rate", "count")} - value_cols)
    nullbit_alias = {c: f"__nn_{i}" for i, c in enumerate(nullbit_cols)}
    ref_fk_cols = {r.fk for r in plan.ref_rules}
    checked = work.select(
        F.col(key_col).alias("__key"),
        F.col(bucket_col).alias("__bucket"),
        *[F.col(c) for c in sorted(value_cols | ref_fk_cols)],
        *[F.col(c).isNotNull().alias(a) for c, a in nullbit_alias.items()],
        *[F.col(f"__ref_ok_{i}") for i in range(len(plan.ref_rules))],
        *[cols[r.rule_id].alias(f"ok_{i}") for i, r in enumerate(rules)],
    )

    def non_null_count(c: str):
        if c in nullbit_alias:
            return F.sum(F.col(nullbit_alias[c]).cast("long"))
        return F.count(c)

    # ---- pass 1: one groupBy(bucket) carrying everything mergeable ----
    aggs = [F.count(F.lit(1)).alias("rows_checked")]
    for i, _ in enumerate(rules):
        aggs.append(F.sum(F.col(f"ok_{i}").cast("long")).alias(f"npass_{i}"))
    for i, _ in enumerate(plan.ref_rules):
        aggs.append(F.sum(F.when(F.col(f"__ref_ok_{i}").isNull(), 1)
                          .otherwise(0)).alias(f"orphans_{i}"))
    exact_rules = []
    for i, r in enumerate(plan.stat_rules):
        c = r.column
        if r.metric == "null_rate":
            aggs.append(non_null_count(c).alias(f"st_nn_{i}"))
        elif r.metric == "min":
            aggs.append(F.min(c).alias(f"st_min_{i}"))
        elif r.metric == "max":
            aggs.append(F.max(c).alias(f"st_max_{i}"))
        elif r.metric == "count":
            aggs.append(non_null_count(c).alias(f"st_cnt_{i}"))
        elif r.metric == "mean":
            aggs.append(F.sum(c).alias(f"st_sum_{i}"))
            aggs.append(F.count(c).alias(f"st_n_{i}"))
        elif r.metric == "approx_distinct":
            aggs.append(F.hll_sketch_agg(c).alias(f"st_hll_{i}"))
        elif r.metric.startswith("approx_p"):
            # mergeable approx percentiles (round 6): per-bucket KLL
            # partial sketches ride THIS rollup and merge in the
            # finalizer — no extra full-table pass, unlike exact p*
            aggs.append(
                F.expr(f"kll_sketch_agg_double(CAST(`{c}` AS DOUBLE))")
                .alias(f"st_kll_{i}"))
        elif (r.metric == "distinct"
              or stats_ops._parse_percentile_metric(r.metric) is not None):
            # not mergeable from per-bucket partials: exact distinct needs
            # the full key set, EXACT percentiles the full distribution —
            # both share ONE combined extra global pass below.
            exact_rules.append((i, r))
        else:
            raise ValueError(f"unknown stat metric: {r.metric}")
    rolled = checked.groupBy("__bucket").agg(*aggs)

    verdict_structs = [
        F.struct(
            F.col("__bucket").cast("int").alias("bucket_id"),
            F.lit(r.rule_id).alias("rule_id"),
            (F.col(f"npass_{i}") == F.col("rows_checked")).alias("pass"),
            (F.col(f"npass_{i}") / F.col("rows_checked"))
            .cast("double").alias("metric"),
            F.col("rows_checked").cast("long").alias("rows_checked"),
            F.lit(snapshot).alias("snapshot"),
        )
        for i, r in enumerate(rules)
    ]
    verdict_frames: List[DataFrame] = []
    if verdict_structs:
        verdict_frames.append(
            rolled.select(F.explode(F.array(*verdict_structs)).alias("v"))
            .select("v.*")
        )

    # table-scope finalizers over the tiny rolled frame
    fin = [F.sum("rows_checked").alias("n")]
    for i, r in enumerate(plan.stat_rules):
        if r.metric == "null_rate":
            fin.append(F.sum(f"st_nn_{i}").alias(f"f_{i}"))
        elif r.metric == "min":
            fin.append(F.min(f"st_min_{i}").alias(f"f_{i}"))
        elif r.metric == "max":
            fin.append(F.max(f"st_max_{i}").alias(f"f_{i}"))
        elif r.metric == "count":
            fin.append(F.sum(f"st_cnt_{i}").alias(f"f_{i}"))
        elif r.metric == "mean":
            fin.append((F.sum(f"st_sum_{i}") / F.sum(f"st_n_{i}"))
                       .alias(f"f_{i}"))
        elif r.metric == "approx_distinct":
            fin.append(F.hll_sketch_estimate(
                F.hll_union_agg(f"st_hll_{i}")).alias(f"f_{i}"))
        elif r.metric.startswith("approx_p"):
            _, q = stats_ops._parse_percentile_metric(r.metric)
            merged = f"kll_merge_agg_double(`st_kll_{i}`)"
            # get_n guard: an all-null column yields empty sketches whose
            # merge has no quantiles — return NULL like approx_percentile
            fin.append(F.expr(
                f"CASE WHEN kll_sketch_get_n_double({merged}) = 0 "
                f"THEN CAST(NULL AS DOUBLE) "
                f"ELSE kll_sketch_get_quantile_double({merged}, {q!r}) "
                f"END").alias(f"f_{i}"))
    for i, _ in enumerate(plan.ref_rules):
        fin.append(F.sum(f"orphans_{i}").alias(f"ref_{i}"))
    table_wide = rolled.agg(*fin)
    if exact_rules:
        # all non-mergeable metrics share ONE extra full-table pass
        exact = df.agg(*[
            stats_ops._metric_col(r.metric, r.column).alias(f"f_{i}")
            for i, r in exact_rules])
        table_wide = table_wide.crossJoin(F.broadcast(exact))

    table_structs = []
    for i, r in enumerate(plan.stat_rules):
        m = F.col(f"f_{i}")
        if r.metric == "null_rate":
            m = (F.col("n") - F.col(f"f_{i}")) / F.col("n")
        table_structs.append(F.struct(
            F.lit(r.rule_id).alias("rule_id"),
            stats_ops._check(r.op, m, r.value, r.value_hi).alias("pass"),
            m.cast("double").alias("metric"),
        ))
    for i, r in enumerate(plan.ref_rules):
        m = F.col(f"ref_{i}")
        table_structs.append(F.struct(
            F.lit(r.rule_id).alias("rule_id"),
            (m == 0).alias("pass"),
            m.cast("double").alias("metric"),
        ))
    if table_structs:
        verdict_frames.append(
            table_wide.select(
                F.explode(F.array(*table_structs)).alias("s"))
            .select(
                F.lit(TABLE_SCOPE_BUCKET).alias("bucket_id"),
                F.col("s.rule_id").alias("rule_id"),
                F.col("s.pass").alias("pass"),
                F.col("s.metric").alias("metric"),
                F.lit(None).cast("long").alias("rows_checked"),
                F.lit(snapshot).alias("snapshot"),
            )
        )

    # ---- pass 2: violations (row rules + referential) ----
    viol_structs = [
        F.when(
            ~F.coalesce(F.col(f"ok_{i}"), F.lit(False)),
            F.struct(
                F.lit(r.rule_id).alias("rule_id"),
                F.lit(r.detail or r.spec).alias("detail"),
            ),
        )
        for i, r in enumerate(rules)
    ]
    for i, r in enumerate(plan.ref_rules):
        viol_structs.append(
            F.when(
                F.col(f"__ref_ok_{i}").isNull(),
                F.struct(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.concat(F.lit(f"{r.fk}="),
                             F.coalesce(F.col(r.fk).cast("string"),
                                        F.lit("NULL")),
                             F.lit(" not in dimension")).alias("detail"),
                ),
            )
        )
    violations = None
    if viol_structs:
        violations = (
            checked.select(
                F.col("__key"),
                F.array_compact(F.array(*viol_structs)).alias("fails"),
            )
            .filter(F.size("fails") > 0)
            .select(F.col("__key"), F.explode("fails").alias("f"))
            .select(
                F.col("__key").cast("string").alias("url"),
                F.col("f.rule_id").alias("rule_id"),
                F.col("f.detail").alias("detail"),
            )
        )

    # ---- pass 3: all drift histograms in ONE grouping-sets scan ----
    if plan.drift_rules:
        gcols = [r.bucketizer().alias(f"__g_{i}")
                 for i, r in enumerate(plan.drift_rules)]
        names = [f"__g_{i}" for i in range(len(plan.drift_rules))]
        hists = (
            df.select(*gcols)
            .groupingSets([[n] for n in names], *[F.col(n) for n in names])
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.grouping_id().alias("__gid"))
        )
        n_drift = len(plan.drift_rules)
        for i, r in enumerate(plan.drift_rules):
            # grouping_id bit = 0 for the retained column
            gid = (2 ** n_drift - 1) ^ (2 ** (n_drift - 1 - i))
            cur = (hists.filter(F.col("__gid") == gid)
                   .select(F.col(f"__g_{i}").alias("bucket"), "cnt"))
            verdict_frames.append(
                drift_ops.drift_verdict(cur, baselines[r.baseline_name],
                                        r.rule_id, r.max_value, r.metric)
                .select(
                    F.lit(TABLE_SCOPE_BUCKET).alias("bucket_id"),
                    "rule_id", "pass",
                    F.col("metric"),
                    F.lit(None).cast("long").alias("rows_checked"),
                    F.lit(snapshot).alias("snapshot"),
                )
            )

    # ---- pass 4: uniqueness (inherent key shuffle) ----
    violation_frames: List[DataFrame] = []
    for r in plan.unique_rules:
        if skew is not None:
            dups = _salted_duplicate_keys(df, r.key, skew)
        else:
            dups = uniq_ops.duplicate_keys(df, [r.key])
        verdict_frames.append(
            dups.agg(F.count(F.lit(1)).alias("dup_keys")).select(
                F.lit(TABLE_SCOPE_BUCKET).alias("bucket_id"),
                F.lit(r.rule_id).alias("rule_id"),
                (F.col("dup_keys") == 0).alias("pass"),
                F.col("dup_keys").cast("double").alias("metric"),
                F.lit(None).cast("long").alias("rows_checked"),
                F.lit(snapshot).alias("snapshot"),
            )
        )
        violation_frames.append(
            dups.select(
                F.col(r.key).cast("string").alias("url"),
                F.lit(r.rule_id).alias("rule_id"),
                F.concat(F.lit("duplicate count="), F.col("dup_count"),
                         ).alias("detail"),
            )
        )

    verdicts = None
    for f in verdict_frames:
        verdicts = f if verdicts is None else verdicts.unionByName(f)
    for f in violation_frames:
        violations = f if violations is None else violations.unionByName(f)
    return verdicts, violations


def topk_violations(violations: DataFrame, k: int = 20) -> DataFrame:
    """At most k example violations per rule (deterministic by url order).

    One shuffle partitioned by rule_id; at scale the violations frame can
    be arbitrarily large, so example reporting must bound it before any
    collect/sink — this is that bound.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("rule_id").orderBy(F.asc("url"), F.asc("detail"))
    return (
        violations.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )
