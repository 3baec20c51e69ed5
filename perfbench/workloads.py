"""The three benchmark workloads and the checks on their outputs.

Each OLAP query is a template: one call into a package layer (named
after its module) on a freshly read input, an action that brings the
result to the driver, and a DuckDB replay of the same statistic on the
same parquet. Results must match the replay within ``REL_TOL``.

The action is ``collect()``: every template returns a bounded result
(row-shaped transforms are reduced per group inside the timed action),
so the timed rows are the rows the check reads and no query runs twice.
"""

from __future__ import annotations

import calendar
import dataclasses
import datetime as dt
import math
import os
import random
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import datagen

REL_TOL = 1e-6
ABS_TOL = 1e-9
#: planted-truth recall floors for the text-curation checks
NEAR_RECALL_FLOOR = 0.9
CONTAM_RECALL_FLOOR = 0.95
SEMANTIC_RECALL_FLOOR = 0.9
#: rows of the table the interactive warm-up sweep runs on
WARM_UP_ROWS = 10_000
#: sweeps of the template list per interactive cycle, so that the median
#: of a run rests on about 26 queries
SWEEPS = 2

OLAP_LAYERS = ("frame", "groupby", "resample", "corr", "quantile", "pivot", "inference")


# -- sizes ---------------------------------------------------------------------


@dataclass(frozen=True)
class Sizes:
    interactive: datagen.FactSpec
    batch: datagen.FactSpec
    corpus: datagen.CorpusSpec


SIZES = {
    "full": Sizes(
        interactive=datagen.FactSpec(rows=500_000, files=4, hot_frac=0.0, null_frac=0.01),
        batch=datagen.FactSpec(rows=500_000, files=16, hot_frac=0.3, null_frac=0.01),
        corpus=datagen.CorpusSpec(
            base=1620, exact=200, near=100, contam=20, semantic=60, bench=40, files=2
        ),
    ),
    "tiny": Sizes(
        interactive=datagen.FactSpec(rows=20_000, files=2, hot_frac=0.0, null_frac=0.01),
        batch=datagen.FactSpec(rows=40_000, files=4, hot_frac=0.3, null_frac=0.01),
        corpus=datagen.CorpusSpec(
            base=405, exact=50, near=25, contam=5, semantic=15, bench=10, files=2
        ),
    ),
}


# -- run context ---------------------------------------------------------------


@dataclass
class Outcome:
    """One query: its template, whether its output passed the check, and
    the input rows it scanned."""

    template: str
    ok: bool
    rows: int
    detail: str = ""


@dataclass
class Context:
    spark: object
    tracer: object
    duck: object
    work: str
    seed: int
    sizes: Sizes
    #: test hook: ``corrupt(template, rows) -> rows`` applied before checks
    corrupt: Callable | None = None
    outcomes: list = field(default_factory=list)
    summary: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def read(ctx: Context, name: str) -> DataFrame:
    from pandas_weights_spark.sources import read_any

    return read_any(ctx.spark, ctx.path(name), format="parquet")


def parquet_sql(ctx: Context, name: str) -> str:
    return f"read_parquet('{ctx.path(name)}/*.parquet')"


# -- result comparison ---------------------------------------------------------


def _norm(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            return float(v.timestamp())
        return float(calendar.timegm(v.timetuple()))
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    return float(v)  # Decimal


def _sort_key(row):
    return tuple((v is None, v if isinstance(v, str) else "", v if isinstance(v, float) else 0.0)
                 for v in row)


def same_rows(got, want) -> str:
    """'' when the row multisets match within tolerance, else a reason."""
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    if len(g) != len(w):
        return f"{len(g)} rows, oracle {len(w)}"
    for a, b in zip(g, w):
        if len(a) != len(b):
            return f"{len(a)} columns, oracle {len(b)}"
        for x, y in zip(a, b):
            if x is None or y is None or isinstance(x, (str, bool)):
                if x != y:
                    return f"{a} != oracle {b}"
            elif not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL):
                return f"{a} != oracle {b}"
    return ""


# -- OLAP templates ------------------------------------------------------------


def _wmean(x):
    return (
        f"sum({x} * w) / nullif(coalesce(sum(CASE WHEN {x} IS NOT NULL THEN w END), 0), 0)"
    )


def _wcount(x):
    return f"coalesce(sum(CASE WHEN {x} IS NOT NULL THEN w END), 0)"


def _wvar(x):
    wc = f"sum(CASE WHEN {x} IS NOT NULL THEN w END)"
    return (
        f"(sum(({x} * {x}) * w) - sum({x} * w) * sum({x} * w) / nullif({wc}, 0))"
        f" / nullif(coalesce({wc}, 0) - 1, 0)"
    )


def _wstd(x):
    return f"CASE WHEN {_wvar(x)} >= 0 THEN sqrt({_wvar(x)}) END"


def _corr_sql(cols, stats):
    """Long-form pairwise corr/cov over the joint validity mask."""
    parts = []
    for cx in cols:
        for cy in cols:
            m = f"CASE WHEN {cx} IS NOT NULL AND {cy} IS NOT NULL AND w IS NOT NULL THEN w END"
            W = f"sum({m})"
            cov = (f"(sum({m} * {cx} * {cy}) - sum({m} * {cx}) * sum({m} * {cy}) / {W})"
                   f" / nullif({W} - 1, 0)")
            vx = f"(sum({m} * {cx} * {cx}) - sum({m} * {cx}) * sum({m} * {cx}) / {W}) / nullif({W} - 1, 0)"
            vy = f"(sum({m} * {cy} * {cy}) - sum({m} * {cy}) * sum({m} * {cy}) / {W}) / nullif({W} - 1, 0)"
            sel = [f"'{cx}'", f"'{cy}'"]
            for s in stats:
                if s == "corr":
                    sel.append(f"CASE WHEN {W} > 1 AND {vx} > 0 AND {vy} > 0 "
                               f"THEN {cov} / sqrt({vx} * {vy}) END")
                else:
                    sel.append(f"CASE WHEN {W} > 1 THEN {cov} END")
            parts.append(f"SELECT {', '.join(sel)} FROM {{fact}}")
    return " UNION ALL ".join(parts)


def _quantile_sql(keys, cols, qs):
    """Inverted-CDF weighted quantiles: smallest x whose tie-inclusive
    cumulative mass reaches q x total mass."""
    k = ", ".join(keys)
    ctes, sels = [], []
    for c in cols:
        ctes.append(
            f"q_{c} AS (SELECT {k}, {c} AS x, mass, "
            f"sum(mass) OVER (PARTITION BY {k} ORDER BY {c} "
            f"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, "
            f"sum(mass) OVER (PARTITION BY {k}) AS tw FROM "
            f"(SELECT {k}, {c}, CASE WHEN {c} IS NOT NULL AND w > 0 THEN w ELSE 0 END AS mass "
            f"FROM {{fact}} WHERE {' AND '.join(f'{x} IS NOT NULL' for x in keys)}))"
        )
        for q in qs:
            sels.append(
                f"(SELECT min(CASE WHEN mass > 0 AND cw >= {q} * tw THEN x END) FROM q_{c} "
                f"WHERE {' AND '.join(f'q_{c}.{x} = g0.{x}' for x in keys)})"
            )
    return (
        f"WITH {', '.join(ctes)}, g0 AS (SELECT DISTINCT {k} FROM {{fact}}) "
        f"SELECT {k}, {', '.join(sels)} FROM g0"
    )


def _grouped(keys, exprs):
    k = ", ".join(keys)
    return f"SELECT {k}, {', '.join(exprs)} FROM {{fact}} GROUP BY {k}"


def _bucket(n):
    return f"floor(epoch(ts) / {n}) * {n}"


XS = ("x1", "x2", "x3")


@dataclass(frozen=True)
class Template:
    name: str
    build: Callable[..., DataFrame]
    sql: str
    tables: tuple = ("fact",)
    #: interactive runs slice by one day of ``ts`` instead of by two keys
    by_day: bool = False

    @property
    def layer(self) -> str:
        return self.name.split(".")[0]


def _wt(df, cols=None):
    from pandas_weights_spark import wt

    w = wt(df, "w")
    return w[list(cols)] if cols else w


def _reduce_rows(out: DataFrame, key: str, cols) -> DataFrame:
    """Per-``key`` count/min/max/sum of row-shaped outputs: the action
    consumes every output row while the result stays bounded."""
    aggs = []
    for c in cols:
        aggs += [F.count(c), F.min(c), F.max(c), F.sum(c)]
    return out.groupBy(key).agg(*aggs)


def _reduce_sql(inner: str, key: str, cols) -> str:
    aggs = []
    for c in cols:
        aggs += [f"count({c})", f"min({c})", f"max({c})", f"sum({c})"]
    return f"SELECT {key}, {', '.join(aggs)} FROM ({inner}) GROUP BY {key}"


def _rolling_sql():
    frame = "OVER (PARTITION BY k ORDER BY id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"
    inner = (
        f"SELECT k, CASE WHEN count(x1 * w) {frame} >= 5 THEN "
        f"sum(x1 * w) {frame} / nullif(sum(CASE WHEN x1 IS NOT NULL THEN w END) {frame}, 0) "
        f"END AS x1 FROM {{fact}}"
    )
    return _reduce_sql(inner, "k", ["x1"])


INTERACTIVE = [
    Template("frame.mean", lambda t: _wt(t["fact"], XS).mean(),
             f"SELECT {', '.join(_wmean(x) for x in XS)} FROM {{fact}}"),
    Template("frame.value_counts", lambda t: _wt(t["fact"])["c"].value_counts(),
             "SELECT c, coalesce(sum(w), 0) FROM {fact} WHERE c IS NOT NULL GROUP BY c",
             by_day=True),
    Template("groupby.mean", lambda t: _wt(t["fact"], XS).groupby("seg").mean(),
             _grouped(["seg"], [_wmean(x) for x in XS])),
    Template("groupby.agg_all",
             lambda t: _wt(t["fact"], XS).groupby("c").agg_all(["mean", "var", "std", "count"]),
             _grouped(["c"], [e for x in XS
                              for e in (_wmean(x), _wvar(x), _wstd(x), _wcount(x))]),
             by_day=True),
    Template("corr.corr_cov", lambda t: _wt(t["fact"], XS).corr_cov(),
             _corr_sql(XS, ["corr", "cov"]), by_day=True),
    Template("resample.1D",
             lambda t: _wt(t["fact"].select("ts", "x1", "x2", "w")).resample("1D", on="ts").mean(),
             f"SELECT {_bucket(86400)} AS b, {_wmean('x1')}, {_wmean('x2')} "
             f"FROM {{fact}} WHERE ts IS NOT NULL GROUP BY b"),
    Template("resample.1H",
             lambda t: _wt(t["fact"].select("ts", "x1", "w")).resample("1h", on="ts").var(),
             f"SELECT {_bucket(3600)} AS b, {_wvar('x1')} "
             f"FROM {{fact}} WHERE ts IS NOT NULL GROUP BY b", by_day=True),
    Template("quantile.quartiles",
             lambda t: _wt(t["fact"], ["x1", "x3"]).groupby("seg").quantile([0.25, 0.5, 0.75]),
             _quantile_sql(["seg"], ["x1", "x3"], [0.25, 0.5, 0.75])),
    Template("pivot.crosstab", lambda t: _wt(t["fact"]).groupby("seg").crosstab("c"),
             "SELECT CAST(seg AS VARCHAR), "
             + ", ".join(f"coalesce(sum(CASE WHEN c = 'c{i}' THEN w END), 0)" for i in range(5))
             + " FROM {fact} WHERE seg IS NOT NULL GROUP BY seg", by_day=True),
    Template("pivot.pivot",
             lambda t: _wt(t["fact"], ["x1"]).groupby("seg").pivot("c", values=["x1"]),
             "SELECT seg, "
             + ", ".join(_wmean(f"CASE WHEN c = 'c{i}' THEN x1 END") for i in range(5))
             + " FROM {fact} WHERE seg IS NOT NULL GROUP BY seg"),
    Template("inference.ttest", lambda t: _wt(t["fact"]).ttest("x1", "seg", 1, 2),
             "SELECT na, ma, va, nb, mb, vb, "
             "CASE WHEN va / na + vb / nb > 0 THEN (ma - mb) / sqrt(va / na + vb / nb) END, "
             "CASE WHEN va / na + vb / nb > 0 THEN (va / na + vb / nb) * (va / na + vb / nb) / "
             "((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)) END FROM ("
             "SELECT " + ", ".join(
                 f"{_wcount(f'CASE WHEN seg = {v} THEN x1 END')} AS n{s}, "
                 f"{_wmean(f'CASE WHEN seg = {v} THEN x1 END')} AS m{s}, "
                 f"{_wvar(f'CASE WHEN seg = {v} THEN x1 END')} AS v{s}"
                 for s, v in (("a", 1), ("b", 2))
             ) + " FROM (SELECT x1, seg, CASE WHEN seg IN (1, 2) THEN w END AS w FROM {fact}))",
             by_day=True),
    Template("inference.chi2", lambda t: _wt(t["fact"]).chi2("seg", "c"),
             "WITH o AS (SELECT seg, c, sum(w) AS o FROM {fact} GROUP BY seg, c), "
             "r AS (SELECT seg, sum(o) AS rt FROM o GROUP BY seg), "
             "k AS (SELECT c, sum(o) AS ct FROM o GROUP BY c), "
             "n AS (SELECT sum(o) AS n FROM o), "
             "e AS (SELECT r.seg, k.c, rt * ct / n AS e, coalesce(o.o, 0) AS o FROM r CROSS JOIN k "
             "CROSS JOIN n LEFT JOIN o ON o.seg = r.seg AND o.c = k.c) "
             "SELECT sum((o - e) * (o - e) / e) AS chi2, "
             "((SELECT count(*) FROM r) - 1) * ((SELECT count(*) FROM k) - 1), "
             "(SELECT n FROM n), "
             "sqrt(sum((o - e) * (o - e) / e) / ((SELECT n FROM n) * "
             "least((SELECT count(*) FROM r) - 1, (SELECT count(*) FROM k) - 1))) FROM e"),
    Template("rolling.mean",
             lambda t: _reduce_rows(
                 _wt(t["fact"].select("k", "id", "x1", "w"))
                 .rolling(5, order_by=["id"], partition_by=["k"]).mean(), "k", ["x1"]),
             _rolling_sql()),
]


#: the query the batch workload runs once before timing starts
WARM_UP = next(t for t in INTERACTIVE if t.name == "groupby.mean")


def _star_join(t):
    joined = t["fact"].join(t["dim"], "d").select(
        "region", (F.col("x1") * F.col("factor")).alias("xf"), "w"
    )
    return _wt(joined).groupby("region").mean()


def _gini_sql():
    return (
        "SELECT seg, sum(m * (x * cw - cs)) / (min(tw) * min(ts_)), min(tw) FROM ("
        "SELECT seg, x, m, "
        "sum(m) OVER (PARTITION BY seg ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, "
        "sum(m * x) OVER (PARTITION BY seg ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs, "
        "sum(m) OVER (PARTITION BY seg) AS tw, sum(m * x) OVER (PARTITION BY seg) AS ts_ FROM ("
        "SELECT seg, x3 AS x, CASE WHEN x3 IS NOT NULL AND w > 0 THEN w ELSE 0 END AS m "
        "FROM {fact})) GROUP BY seg"
    )


def _winsor_sql():
    qs = _quantile_sql(["seg"], ["x1", "x3"], [0.05, 0.95])
    inner = (
        f"SELECT f.seg, CASE WHEN x1 IS NOT NULL THEN greatest(least(x1, b.q1h), b.q1l) END AS x1_wins, "
        f"CASE WHEN x3 IS NOT NULL THEN greatest(least(x3, b.q3h), b.q3l) END AS x3_wins "
        f"FROM {{fact}} f JOIN (SELECT * FROM ({qs}) AS t(seg, q1l, q1h, q3l, q3h)) b ON f.seg = b.seg"
    )
    return _reduce_sql(inner, "seg", ["x1_wins", "x3_wins"])


BATCH = [
    Template("groupby.agg_all_hot_key",
             lambda t: _wt(t["fact"], XS).groupby("k").agg_all(["mean", "var", "std"]),
             _grouped(["k"], [e for x in XS for e in (_wmean(x), _wvar(x), _wstd(x))])),
    Template("groupby.cube", lambda t: _wt(t["fact"], ["x1", "x2"]).cube("seg", "c").mean(),
             "SELECT seg, c, " + ", ".join(_wmean(x) for x in ("x1", "x2"))
             + " FROM {fact} GROUP BY CUBE (seg, c)"),
    Template("resample.1D",
             lambda t: _wt(t["fact"].select("ts", "x1", "x2", "w"))
             .resample("1D", on="ts").agg_all(["mean", "var"]),
             f"SELECT {_bucket(86400)} AS b, {_wmean('x1')}, {_wvar('x1')}, "
             f"{_wmean('x2')}, {_wvar('x2')} FROM {{fact}} WHERE ts IS NOT NULL GROUP BY b"),
    Template("quantile.gini", lambda t: _wt(t["fact"]).gini("x3", by=["seg"]), _gini_sql()),
    Template("corr.corr_cov", lambda t: _wt(t["fact"], XS).corr_cov(),
             _corr_sql(XS, ["corr", "cov"])),
    Template("groupby.star_join", _star_join,
             "SELECT region, " + _wmean("xf") + " FROM (SELECT region, x1 * factor AS xf, w "
             "FROM {fact} f JOIN {dim} d ON f.d = d.d) GROUP BY region",
             tables=("fact", "dim")),
    Template("quantile.winsorize",
             lambda t: _reduce_rows(
                 _wt(t["fact"], ["x1", "x3"]).groupby("seg").winsorize(), "seg",
                 ["x1_wins", "x3_wins"]),
             _winsor_sql()),
    next(t for t in INTERACTIVE if t.name == "rolling.mean"),
]


@dataclass(frozen=True)
class Slice:
    """A selective predicate, as a Spark Column and as DuckDB SQL."""

    spark: object
    sql: str


def key_slice(rng: random.Random) -> Slice:
    a, b = rng.sample(range(1, 200), 2)
    return Slice(F.col("k").isin(a, b), f"k IN ({a}, {b})")


def day_slice(rng: random.Random, days: int) -> Slice:
    lo = datagen.EPOCH0 + rng.randrange(days) * 86400
    hi = lo + 86400
    return Slice(
        (F.col("ts") >= F.timestamp_seconds(F.lit(lo)))
        & (F.col("ts") < F.timestamp_seconds(F.lit(hi))),
        f"epoch(ts) >= {lo} AND epoch(ts) < {hi}",
    )


def run_template(ctx: Context, tpl: Template, where: Slice | None = None) -> Outcome:
    """Time one query (read, public call, action), then check it."""
    tr = ctx.tracer
    with tr.query(tpl.name):
        with tr.span("sources.read"):
            inputs = {name: read(ctx, name) for name in tpl.tables}
            if where is not None:
                inputs["fact"] = inputs["fact"].where(where.spark)
        with tr.span(f"{tpl.layer}.plan"):
            out = tpl.build(inputs)
        with tr.span(f"{tpl.layer}.exec"):
            rows = out.collect()
    tr.record_plan(tpl.layer, out)
    scanned = sum(ctx.summary["rows"][name] for name in tpl.tables)
    if ctx.corrupt is not None:
        rows = ctx.corrupt(tpl.name, rows)
    srcs = {name: parquet_sql(ctx, name) for name in tpl.tables}
    if where is not None:
        srcs["fact"] = f"(SELECT * FROM {srcs['fact']} WHERE {where.sql})"
    want = ctx.duck.execute(tpl.sql.format(**srcs)).fetchall()
    problem = same_rows(rows, want)
    return Outcome(tpl.name, not problem, scanned, problem)


# -- workloads -------------------------------------------------------------------


def _loop(ctx: Context, seconds: float, one_cycle: Callable[[int], None]) -> None:
    """Closed loop, one client: whole cycles until ``seconds`` have passed."""
    start = time.perf_counter()
    cycle = 0
    while True:
        one_cycle(cycle)
        cycle += 1
        if time.perf_counter() - start >= seconds:
            break


def _write_fact_inputs(ctx: Context, spec: datagen.FactSpec, with_dim: bool) -> None:
    datagen.write_fact(ctx.spark, spec, ctx.seed, ctx.path("fact"))
    ctx.summary["rows"] = {"fact": spec.rows}
    if with_dim:
        datagen.write_dim(ctx.spark, spec, ctx.seed, ctx.path("dim"))
        ctx.summary["rows"]["dim"] = spec.dims
    ctx.summary["input"] = {
        "fact_rows": spec.rows, "fact_files": spec.files,
        "hot_key_share": spec.hot_frac, "null_frac": spec.null_frac,
        "scan_partitions": read(ctx, "fact").rdd.getNumPartitions(),
    }


class OlapInteractive:
    """Short weighted queries on ~1% slices of a few-file fact table."""

    name = "olap_interactive"

    def setup(self, ctx: Context) -> None:
        _write_fact_inputs(ctx, ctx.sizes.interactive, with_dim=False)

    def warm_up(self, ctx: Context) -> None:
        # one sweep on a small copy of the table: the first run of each
        # template pays JIT and code generation, which would otherwise land
        # on the timed queries
        spec = dataclasses.replace(ctx.sizes.interactive, rows=WARM_UP_ROWS, files=1)
        small = dataclasses.replace(ctx, work=ctx.path("warm-up"), outcomes=[], summary={})
        _write_fact_inputs(small, spec, with_dim=False)
        self._sweep(small, -1)

    def run(self, ctx: Context, seconds: float) -> None:
        def cycle(i):
            for j in range(SWEEPS):
                self._sweep(ctx, SWEEPS * i + j)

        _loop(ctx, seconds, cycle)

    def _sweep(self, ctx: Context, i: int) -> None:
        # the seed picks the slices; the template order and each
        # template's slice kind are fixed, so every run has the same mix
        rng = random.Random(ctx.seed * 1000 + i)
        days = ctx.sizes.interactive.days
        for tpl in INTERACTIVE:
            where = day_slice(rng, days) if tpl.by_day else key_slice(rng)
            ctx.outcomes.append(run_template(ctx, tpl, where))


class OlapBatch:
    """A fixed sequence of full-table weighted queries."""

    name = "olap_batch"

    def setup(self, ctx: Context) -> None:
        _write_fact_inputs(ctx, ctx.sizes.batch, with_dim=True)

    def warm_up(self, ctx: Context) -> None:
        run_template(ctx, WARM_UP, key_slice(random.Random(ctx.seed)))

    def run(self, ctx: Context, seconds: float) -> None:
        def cycle(_i):
            for tpl in BATCH:
                ctx.outcomes.append(run_template(ctx, tpl))

        _loop(ctx, seconds, cycle)


class TextCuration:
    """One curation pass per cycle: quality panel, exact dedup, MinHash
    near-dup, benchmark decontamination, semantic dedup, then the
    partitioned write of what is kept."""

    name = "text_curation"

    def setup(self, ctx: Context) -> None:
        spec = ctx.sizes.corpus
        datagen.write_corpus(
            ctx.spark, spec, ctx.seed, ctx.path("documents"), ctx.path("embeddings"),
            ctx.path("benchmark"),
        )
        ctx.summary["rows"] = {
            "documents": spec.docs, "embeddings": spec.docs, "benchmark": spec.bench,
        }
        ctx.summary["input"] = spec.summary()

    def warm_up(self, ctx: Context) -> None:
        from pandas_weights_spark.functions.dedup import exact_dedup

        exact_dedup(read(ctx, "documents"), "text", "id").select("id").collect()

    def run(self, ctx: Context, seconds: float) -> None:
        _loop(ctx, seconds, lambda i: self._pass(ctx, i))

    def _stage(self, ctx, name, layer, build, action):
        """One pipeline stage as a query: read, public call, action."""
        tr = ctx.tracer
        with tr.query(name):
            with tr.span("sources.read"):
                docs = read(ctx, "documents")
            with tr.span("sources.fan_out"):
                from pandas_weights_spark.sources import fan_out

                wide = fan_out(docs)
            ctx.summary.setdefault("fan_out_exchanges", []).append(int(wide is not docs))
            with tr.span(f"{layer}.plan"):
                out = build(wide)
            with tr.span(action[0]):
                result = action[1](out)
        tr.record_plan(layer, out)
        if ctx.corrupt is not None:
            result = ctx.corrupt(name, result)
        return result

    def _pass(self, ctx: Context, i: int) -> None:
        from pandas_weights_spark.functions import decontam, dedup, quality, similarity
        from pandas_weights_spark.sources.sinks import write_partitioned

        spec = ctx.sizes.corpus
        blocks = spec.blocks()
        n_docs = spec.docs
        spark = ctx.spark

        def ids(rows):
            return {r[0] for r in rows}

        def dropping(df, drop):
            if not drop:
                return df
            gone = spark.createDataFrame([(x,) for x in sorted(drop)], "id long")
            return df.join(F.broadcast(gone), "id", "left_anti")

        def collect(df):
            return df.collect()

        def check(name, ok, detail):
            ctx.outcomes.append(Outcome(name, ok, n_docs, "" if ok else detail))

        # quality: the per-language curation report
        report = self._stage(
            ctx, "functions.quality.panel", "functions.quality",
            lambda d: quality.quality_panel(d).groupBy("lang").agg(
                F.count(F.lit(1)).alias("docs"), F.sum(F.col("keep").cast("int"))
            ),
            ("functions.quality.exec", collect),
        )
        check("functions.quality.panel", sum(r[1] for r in report) == n_docs,
              f"report covers {sum(r[1] for r in report)} of {n_docs} docs")

        # exact dedup: survivors are exactly the non-copies
        kept = ids(self._stage(
            ctx, "functions.dedup.exact", "functions.dedup",
            lambda d: dedup.exact_dedup(d, "text", "id").select("id"),
            ("functions.dedup.exec", collect),
        ))
        want = n_docs - spec.exact
        check("functions.dedup.exact", len(kept) == want,
              f"{len(kept)} exact-dedup survivors, planted {want}")
        drop = set(range(n_docs)) - kept

        # MinHash near duplicates among the exact survivors
        pairs = self._stage(
            ctx, "functions.dedup.minhash", "functions.dedup",
            lambda d: dedup.minhash_near_duplicates(
                dropping(d, drop), "text", "id", portable=False),
            ("functions.dedup.exec", collect),
        )
        lo, hi = blocks["near"]
        found = {r[1] for r in pairs}
        recall = len(found & set(range(lo, hi))) / max(1, hi - lo)
        check("functions.dedup.minhash", recall >= NEAR_RECALL_FLOOR,
              f"near-duplicate recall {recall:.3f} < {NEAR_RECALL_FLOOR}")
        drop |= found

        # benchmark contamination (hashed 13-gram overlap)
        flagged = ids(self._stage(
            ctx, "functions.decontam.ngram_overlap", "functions.decontam",
            lambda d: decontam.ngram_overlap(
                dropping(d, drop), "text", "id", read(ctx, "benchmark"))
            .where("contaminated").select("id"),
            ("functions.decontam.exec", collect),
        ))
        lo, hi = blocks["contam"]
        recall = len(flagged & set(range(lo, hi))) / max(1, hi - lo)
        check("functions.decontam.ngram_overlap",
              recall >= CONTAM_RECALL_FLOOR and flagged <= set(range(lo, hi)),
              f"contamination recall {recall:.3f}, {len(flagged - set(range(lo, hi)))} false hits")
        drop |= flagged

        # semantic dedup over the embeddings of what is still kept
        losers = ids(self._stage(
            ctx, "functions.similarity.semantic_dedup", "functions.similarity",
            lambda _d: similarity.semantic_dedup(
                dropping(read(ctx, "embeddings"), drop), "vec", "id",
                n_cells=16, arrow=True)
            .where(~F.col("is_survivor")).select("id"),
            ("functions.similarity.exec", collect),
        ))
        lo, hi = blocks["semantic"]
        recall = len(losers & set(range(lo, hi))) / max(1, hi - lo)
        check("functions.similarity.semantic_dedup", recall >= SEMANTIC_RECALL_FLOOR,
              f"semantic-duplicate recall {recall:.3f} < {SEMANTIC_RECALL_FLOOR}")
        drop |= losers

        # write what is kept, partitioned by language, and read it back
        out_dir = ctx.path(f"curated-{i % 2}")
        self._stage(
            ctx, "sinks.write_partitioned", "functions.quality",
            lambda d: quality.quality_panel(dropping(d, drop)),
            ("sinks.write", lambda df: write_partitioned(df, out_dir, ["lang"])),
        )
        files, size = 0, 0
        for root, _dirs, names in os.walk(out_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        ctx.summary.setdefault("sink", []).append((files, size))
        written = read(ctx, out_dir).count()
        check("sinks.write_partitioned", written == n_docs - len(drop),
              f"{written} rows written, kept {n_docs - len(drop)}")


WORKLOADS = {w.name: w for w in (OlapInteractive(), OlapBatch(), TextCuration())}
