"""The benchmark's two workloads.

Each workload turns a seed into inputs (``prepare``, which submits their
writing to ``gen``, which runs it in one child process), readies the
engine on the run's session (``setup``, which calls ``warm_up`` once where
the workload is ready for it and returns the bytes and seconds of its load
step), yields an endless seeded request stream in rounds that hold every
request kind once and send the same set of requests every ``period``
requests (``requests``), runs one request through the engine's public
functions (``run``) and checks a result against its DuckDB oracle
(``check``). Spans mark each call into a layer.
"""

from __future__ import annotations

import math
import os
import re
import sys
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
from pandas.api.types import is_datetime64_any_dtype, is_float_dtype

import inputs
from comperhensive_bigdata_analysis__spark import plans
from comperhensive_bigdata_analysis__spark.plans.pipeline import run_phase
from comperhensive_bigdata_analysis__spark.query import Engine, translate
from comperhensive_bigdata_analysis__spark.sources.inflate import inflate_corpus
from tests.oracle_harness import duck_con, normalize


@dataclass
class Request:
    key: str  # requests with equal keys return equal results
    kind: str
    arg: object = None
    #: counts and times ``run`` reports for this request
    stats: dict = field(default_factory=dict)


# --- running and checking -------------------------------------------------


def act(df, tracer, to_pandas: bool):
    """Run the action that follows a call into the engine. A traced
    request first forces the physical plan so planning is timed apart."""
    if tracer.enabled:
        with tracer.span("exec.plan"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("export.to_pandas" if to_pandas else "exec.action"):
        return df.toPandas() if to_pandas else df.collect()


def _py(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v.item() if isinstance(v, np.generic) else v


def pandas_rows(pdf: pd.DataFrame) -> list[tuple]:
    return [tuple(_py(v) for v in row) for row in pdf.itertuples(index=False, name=None)]


def frames_close(got: pd.DataFrame, want: pd.DataFrame, rtol=1e-9, atol=1e-9) -> bool:
    """Order-insensitive frame comparison with float tolerance: the reference
    SQL sums doubles, whose last bits depend on summation order."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    floats = [c for c in cols if is_float_dtype(got[c]) or is_float_dtype(want[c])]
    keys = [c for c in cols if c not in floats] + floats
    g, w = (
        f[cols].sort_values(keys, kind="stable").reset_index(drop=True) for f in (got, want)
    )
    for c in cols:
        a, b = g[c], w[c]
        if c in floats:
            same = np.allclose(a.astype(float), b.astype(float), rtol=rtol, atol=atol, equal_nan=True)
        elif is_datetime64_any_dtype(a) or is_datetime64_any_dtype(b):
            same = (a.astype("datetime64[us]") == b.astype("datetime64[us]")).all()
        else:
            same = a.astype(str).tolist() == b.astype(str).tolist()
        if not same:
            return False
    return True


def duckify(sql: str) -> str:
    """DuckDB has no Presto ``date()``: the oracle side reads it as a
    timestamp cast, as tests/test_reference_queries.py does."""
    return re.sub(r"\bdate\(([^)]*)\)", r"CAST(\1 AS TIMESTAMP)", sql)


def duck_rows(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], [tuple(r) for r in cur.fetchall()]


#: Relative float tolerance of a plan check: four units in the last place.
#: The plans' decimal-exact sums make both engines agree to the bit except
#: where DuckDB's DECIMAL -> DOUBLE cast rounds one ulp away from Spark's
#: (seen on ``pricing_summary.sum_disc_price``).
PLAN_REL_TOL = 4 * sys.float_info.epsilon


def plan_matches(con, name, cols, rows) -> bool:
    """Order-insensitive check against the plan's DuckDB oracle: exact
    after oracle_harness's normalization, or equal within PLAN_REL_TOL."""
    dcols, drows = duck_rows(con, plans.ORACLES[name])
    if normalize(rows, list(cols)) == normalize(drows, dcols):
        return True
    close = frames_close(
        pd.DataFrame(rows, columns=list(cols)), pd.DataFrame(drows, columns=dcols),
        rtol=PLAN_REL_TOL, atol=0.0,
    )
    if close:
        print(f"{name}: equal to its oracle only within {PLAN_REL_TOL:.1e}", file=sys.stderr)
    return close


# --- analyst_sql ----------------------------------------------------------

PLANTS = "renewable_power_plants_de"
SERIES = "renewable_capacity_timeseries"
#: FIXTURES.md §1's synthetic size of the plants table.
PLANTS_ROWS = 100_000
TIMESTAMPS = {
    PLANTS: ["commissioning_date", "decommissioning_date"],
    SERIES: ["day"],
}

#: Relational catalog plans an analyst session mixes in (7 of each
#: round's 20 requests).
CATALOG = (
    "pricing_summary",
    "shipping_priority_topk",
    "revenue_by_nation",
    "window_top_orders",
    "grouping_sets_revenue",
    "linear_forecast",
    "filter_project_arith",
)
#: Literal lists hold one or two values, so the two rounds a run needs
#: for its 40 samples send each value equally often whatever the seed.
CUTOFFS = ("1990-01-01", "2010-01-01")


def _sum(cols):
    return " + ".join(f"{c}_capacity" for c in cols)


def _nuts_sql(level: int) -> str:
    return f"""
select trim(nuts_{level}_region) nuts_{level}_region,
       sum(electrical_capacity) electrical_capacity_sum
from {PLANTS}
where federal_state in (select federal_state from {PLANTS})
  and lon is not null and lat is not null
group by trim(nuts_{level}_region)
order by 2 desc
"""


#: The reference's Q0-Q12 (SURVEY §2.12) with their literals as
#: parameters: kind -> (literal values, SQL builder).
TEMPLATES = {
    "q0": ((10, 100), lambda n: f"select * from {PLANTS} limit {n}"),
    "q1": ((PLANTS, SERIES), lambda t: f"SELECT COUNT(*) AS rows FROM {t}"),
    "q2": (
        CUTOFFS,
        lambda d: f"""
select {_sum(['de_solar', 'ch_solar', 'fr_solar', 'dk_solar', 'gb_gbn_solar'])} solar,
       {_sum(['de_wind_onshore', 'ch_wind_onshore', 'fr_wind_onshore', 'dk_wind_onshore'])} wind_onshore,
       {_sum(['de_wind_offshore', 'dk_wind_offshore', 'gb_ukm_wind_offshore', 'se_wind_offshore'])} wind_offshore,
       {_sum(['de_bioenergy', 'ch_bioenergy', 'fr_bioenergy', 'gb_gbn_bioenergy'])} bioenergy,
       {_sum(['fr_hydro', 'gb_gbn_hydro', 'gb_ukm_hydro'])} hydro,
       {_sum(['de_geothermal', 'fr_geothermal'])} geothermal,
       {_sum(['fr_marine', 'gb_gbn_marine', 'gb_ukm_marine'])} marine,
       day
from {SERIES}
where day >= date('{d}')
order by date(day) asc
""",
    ),
    "q3": (
        CUTOFFS,
        lambda d: f"""
select {_sum(['de_solar', 'de_wind_onshore', 'de_wind_offshore'])} de,
       {_sum(['ch_solar', 'ch_wind_onshore'])} ch,
       {_sum(['fr_solar', 'fr_wind_onshore'])} fr,
       {_sum(['dk_solar', 'dk_wind_onshore', 'dk_wind_offshore'])} dk,
       {_sum(['gb_ukm_solar', 'gb_ukm_wind_onshore', 'gb_ukm_wind_offshore'])} gb,
       {_sum(['se_wind_onshore', 'se_wind_offshore'])} se,
       day
from {SERIES}
where day >= date('{d}')
order by day asc
""",
    ),
    "q4": (
        CUTOFFS,
        lambda d: f"""
select distinct day, de_solar_capacity, de_wind_onshore_capacity,
       de_wind_offshore_capacity, de_bioenergy_capacity, de_geothermal_capacity
from {SERIES}
where day >= date('{d}')
order by day asc
""",
    ),
    "q5": (
        CUTOFFS,
        lambda d: f"""
select distinct day ds, {_sum(['de_solar', 'ch_solar', 'fr_solar'])} y
from {SERIES}
where day >= date('{d}')
order by ds asc
""",
    ),
    "q6": (
        (None,),
        lambda _: f"""
select technology, sum(electrical_capacity) electrical_capacity_sum
from {PLANTS}
group by technology
order by electrical_capacity_sum desc
""",
    ),
    "q7": (
        (None,),
        lambda _: f"""
select distinct technology, avg(electrical_capacity) electrical_capacity_avg
from {PLANTS}
group by technology
order by electrical_capacity_avg desc
""",
    ),
    "q8": (
        (3, 16),
        lambda n: f"""
select federal_state, sum(electrical_capacity) electrical_capacity_sum
from {PLANTS}
group by federal_state
order by 2 desc limit {n}
""",
    ),
    "q9": ((1,), _nuts_sql),
    "q10": ((2,), _nuts_sql),
    "q11": ((3,), _nuts_sql),
    "q12": ((1, 3), _nuts_sql),
}


def _shuffled_cycle(rng, values):
    while True:
        for i in rng.permutation(len(values)):
            yield values[i]


def _as_ingested(df: pd.DataFrame, timestamp_cols) -> pd.DataFrame:
    out = df.copy()
    for c in timestamp_cols:
        out[c] = pd.to_datetime(out[c]).astype("datetime64[us]")
    return out


class AnalystSQL:
    """Reference SQL through ``Engine.sql`` plus catalog plans, all handed
    to pandas, on one warm session."""

    name = "analyst_sql"
    round = len(TEMPLATES) + len(CATALOG)
    #: literal lists hold one or two values, so every two rounds send the
    #: same requests
    period = 2 * round
    #: a run sends at least this many requests
    min_requests = period

    def prepare(self, scratch: str, seed: int, gen) -> None:
        self.scratch = scratch
        self.corpus = os.path.join(scratch, "corpus")
        #: table -> (frame maker, its seed, its arguments)
        self.sources = {
            PLANTS: (inputs.plants_frame, [seed, 0, 1], PLANTS_ROWS),
            SERIES: (inputs.timeseries_frame, [seed, 0, 2]),
        }
        self.csvs = [os.path.join(scratch, f"{t}.csv") for t in self.sources]
        gen.submit(inputs.write_corpus, self.corpus, np.random.default_rng([seed, 0, 0]))
        for path, src in zip(self.csvs, self.sources.values()):
            gen.submit(inputs.write_csv, path, *src)
        self.con = self.ref = None

    def _oracles(self):
        """DuckDB over the corpus, and DuckDB over the generator's own
        reference frames; both are built at the first check."""
        if self.con is None:
            self.con = duck_con(self.corpus)
            self.ref = duckdb.connect()
            # DuckDB's join ordering builds the NUTS queries' IN-subquery
            # semi join on the side with 16 distinct keys and 95k rows (1.8 s
            # a query); without it the join takes 10 ms
            self.ref.execute("SET disabled_optimizers = 'join_order'")
            for t, (make, seed, *args) in self.sources.items():
                df = make(np.random.default_rng(seed), *args)
                self.ref.register(t, _as_ingested(df, TIMESTAMPS[t]))
        return self.con, self.ref

    def setup(self, spark, tracer, warm_up):
        self.spark = spark
        self.engine = Engine(spark)
        t0 = time.perf_counter()
        with tracer.span("sources.ingest"):
            for path in self.csvs:
                self.engine.ingest(path, parquet_dir=os.path.join(self.scratch, "tables"))
        load = sum(os.path.getsize(p) for p in self.csvs), time.perf_counter() - t0
        warm_up()
        return load

    def requests(self, rng):
        kinds = list(TEMPLATES) + list(CATALOG)
        # each template walks its literals in seeded order, so a few rounds
        # send the same requests whatever the seed, only in another order
        literals = {k: _shuffled_cycle(rng, values) for k, (values, _) in TEMPLATES.items()}
        while True:
            for i in rng.permutation(len(kinds)):
                kind = kinds[i]
                if kind in CATALOG:
                    yield Request(kind, kind)
                else:
                    lit = next(literals[kind])
                    yield Request(f"{kind}:{lit}", kind, TEMPLATES[kind][1](lit))

    def run(self, req, tracer):
        if req.kind in CATALOG:
            with tracer.span("plans.build"):
                df = plans.QUERIES[req.kind](self.spark, self.corpus)
        else:
            if tracer.enabled:
                with tracer.span("query.translate"):
                    translate(req.arg)
            with tracer.span("query.sql"):
                df = self.engine.sql(req.arg)
        return act(df, tracer, to_pandas=True)

    def rows(self, pdf) -> int:
        return len(pdf)

    def check(self, req, pdf) -> bool:
        con, ref = self._oracles()
        if req.kind in CATALOG:
            return plan_matches(con, req.kind, list(pdf.columns), pandas_rows(pdf))
        if req.kind == "q0":  # LIMIT without ORDER BY: any rows qualify
            n = int(req.key.split(":")[1])
            plants = [d[0] for d in ref.execute(f"DESCRIBE {PLANTS}").fetchall()]
            return sorted(pdf.columns) == sorted(plants) and len(pdf) == n
        return frames_close(pdf, ref.execute(duckify(req.arg)).fetchdf())


# --- curation_batch -------------------------------------------------------

#: Curation plans, each run as its own ``run_phase`` (so every run is
#: cold). ``dup_clusters`` is left out: see README.md. The count is odd,
#: so in rounds that hold each plan once the median and p75 fall inside
#: one plan's samples, not in the gap between two plans' latencies.
CURATION = (
    "exact_dedup_docs",
    "minhash_lsh_dedup",
    "corpus_clean_pipeline",
    "dsir_importance_weights",
    "unigram_lm_surprisal",
    "exact_substr_spans",
    "ccnet_quality_buckets",
    "boilerplate_scrub",
    "gopher_quality_flags",
)
COPIES = 8
#: Base corpus for the inflation: documents only matter to the plans
#: above; the relational tables are kept at sf0.001 size.
CURATION_ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
    "lineitem": 6_000, "events": 1_000, "documents": 500, "embeddings": 200,
}
INFLATED = ("lineitem", "orders", "documents", "embeddings")


class CurationBatch:
    """Corpus-curation plans on the x8 key-disjoint corpus, one cold
    ``run_phase`` per request."""

    name = "curation_batch"
    round = period = len(CURATION)
    #: seven samples of each plan, since the median falls inside one
    #: plan's samples
    min_requests = 7 * round

    def prepare(self, scratch: str, seed: int, gen) -> None:
        self.base = os.path.join(scratch, "base")
        self.x8 = os.path.join(scratch, "x8")
        rng = np.random.default_rng([seed, 0])
        gen.submit(inputs.write_corpus, self.base, rng, CURATION_ROWS)

    def setup(self, spark, tracer, warm_up):
        self.spark = spark
        # the warm-up runs every plan once on the 8x smaller base corpus:
        # JIT compilation and Python worker start-up, which it is for,
        # hardly depend on the data size, and the inflation after it runs
        # on a warm JVM
        self.corpus = self.base
        warm_up()
        self.corpus = self.x8
        t0 = time.perf_counter()
        with tracer.span("sources.inflate"):
            inflate_corpus(spark, self.base, self.x8, COPIES)
        seconds = time.perf_counter() - t0
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{self.x8}/documents.parquet/*.parquet'"
        )
        nbytes = sum(os.path.getsize(os.path.join(self.base, f"{t}.parquet")) for t in INFLATED)
        return COPIES * nbytes, seconds

    def requests(self, rng):
        while True:
            for i in rng.permutation(len(CURATION)):
                yield Request(CURATION[i], CURATION[i])

    def run(self, req, tracer):
        marks = {}

        def consume(df):
            # run_phase builds the plan between its entry and this call
            marks["built"] = time.perf_counter()
            tracer.record("plans.build", marks["entry"], marks["built"])
            marks["cols"] = df.columns
            rows = act(df, tracer, to_pandas=False)
            marks["done"] = time.perf_counter()
            return rows

        with tracer.span("plans.run_phase"):
            marks["entry"] = time.perf_counter()
            results, released = run_phase(self.spark, self.corpus, [req.kind], consume=consume)
            tracer.record("cache.release", marks["done"], time.perf_counter())
        req.stats["cache.released"] = released
        return marks["cols"], [tuple(r) for r in results[req.kind]]

    def rows(self, result) -> int:
        return len(result[1])

    def check(self, req, result) -> bool:
        return plan_matches(self.con, req.kind, *result)


WORKLOADS = {w.name: w for w in (AnalystSQL, CurationBatch)}
