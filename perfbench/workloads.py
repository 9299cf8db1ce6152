"""The four benchmark workloads.

Each workload is a closed loop with one client thread: it issues an
operation, waits for its result, then issues the next.  A *pass* is one
walk over the workload's fixed list of operations; the runner repeats
passes until the measured time is used up.  Every workload drives the
public API only (``FsqlEngine.sql``, ``FsqlEngine.table``,
``register_stream_parquet``, ``start_sink`` and DataFrame actions).

The seed drives only the generated inputs: statement literals, the DML
sequence's literals, and the stream files' cut points and row order.
Base tables are the read-only testdata parquet files.

Each workload records what it must check as a list of oracle steps,
replayed in DuckDB after the timed loop:

- ``("exec", duck_sql)``: apply a statement (the DML replay);
- ``("compare", label, got_pandas, duck_sql)``: the output must equal
  the DuckDB result.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

T = time.perf_counter


@dataclass
class Ctx:
    """What a workload needs from the runner."""
    spark: object
    tracer: object
    data_dir: str          # testdata root (holds sf0.001, sf0.01, sf0.1)
    work_dir: str          # scratch inside the checkout
    seed: int
    tiny: bool = False     # smoke-test sizes
    samples: list = field(default_factory=list)   # per-op samples
    checks: list = field(default_factory=list)    # oracle steps
    batches: list = field(default_factory=list)   # stream progress rows

    def sample(self, key: str, ms: float, compile_ms: float | None) -> None:
        self.samples.append({"key": key, "ms": ms,
                             "compile_ms": compile_ms})


def _ms(t0: float, t1: float) -> float:
    return (t1 - t0) * 1000.0


# ---------------------------------------------------------------------------
# interactive: read-only statements from templates with seeded literals
# ---------------------------------------------------------------------------

def _win(size_s: int) -> str:
    """DuckDB bounds of the ``size_s``-second tumbling window of ``ts``."""
    bucket = f"CAST(floor(epoch(ts) / {size_s}) AS BIGINT)"
    return (f"make_timestamp({bucket} * {size_s} * 1000000) "
            f"AS window_start, make_timestamp(({bucket} + 1) * "
            f"{size_s} * 1000000) AS window_end")


def _docs_subset(eng, p):
    return eng.sql("select * from documents "
                   f"where doc_id % {p['m']} <> {p['r']}")


def _subset(r: random.Random) -> dict:
    m = r.choice([3, 4, 5, 7])
    return {"m": m, "r": r.randrange(m)}


# key -> (literal generator, FSQL text or API call, DuckDB twin).  An
# "x_" key compiles through the X DSL (parser layer), an "llm_" key
# through the LLM-operator library; an ("oracle", name) twin is the
# DuckDB oracle ``__spark_entry__`` has for that query, run on the same
# document subset.
TEMPLATES = {
    "agg": (
        lambda r: {"d": r.choice([0.02, 0.04, 0.06, 0.08])},
        """select l_returnflag, l_linestatus, count(*) as n,
                  sum(l_quantity) as q, avg(l_extendedprice) as p
           from lineitem where l_discount <= {d}
           group by l_returnflag, l_linestatus""",
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
                  sum(l_quantity) AS q, avg(l_extendedprice) AS p
           FROM lineitem WHERE l_discount <= {d}
           GROUP BY l_returnflag, l_linestatus"""),
    "join3": (
        lambda r: {"p": r.randrange(1000, 200000, 1000)},
        """select n_name, count(*) as n, sum(o_totalprice) as revenue
           from orders join customer on o_custkey = c_custkey
           join nation on c_nationkey = n_nationkey
           where o_totalprice > {p} group by n_name""",
        """SELECT n_name, count(*) AS n, sum(o_totalprice) AS revenue
           FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE o_totalprice > {p} GROUP BY n_name"""),
    "tpch_q5": (
        lambda r: {"reg": r.choice(["AMERICA", "ASIA", "EUROPE"]),
                   "y": r.choice([1993, 1994, 1995, 1996, 1997])},
        """select n_name, sum(l_extendedprice * (1 - l_discount)) as rev
           from customer, orders, lineitem, supplier, nation, region
           where c_custkey = o_custkey and l_orderkey = o_orderkey
             and l_suppkey = s_suppkey and c_nationkey = s_nationkey
             and s_nationkey = n_nationkey and n_regionkey = r_regionkey
             and r_name = '{reg}' and o_orderdate >= date '{y}-01-01'
             and o_orderdate < date '{y}-01-01' + interval 1 year
           group by n_name""",
        """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS rev
           FROM customer, orders, lineitem, supplier, nation, region
           WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             AND r_name = '{reg}' AND o_orderdate >= DATE '{y}-01-01'
             AND o_orderdate < DATE '{y}-01-01' + INTERVAL 1 YEAR
           GROUP BY n_name"""),
    "outer_join": (
        lambda r: {"p": r.randrange(1000, 300000, 1000)},
        """select c_custkey, count(o_orderkey) as cnt
           from customer left join
                (select o_custkey, o_orderkey from orders
                 where o_totalprice > {p}) as o on c_custkey = o_custkey
           group by c_custkey""",
        """SELECT c_custkey, count(o_orderkey) AS cnt
           FROM customer LEFT JOIN
                (SELECT o_custkey, o_orderkey FROM orders
                 WHERE o_totalprice > {p}) AS o ON c_custkey = o_custkey
           GROUP BY c_custkey"""),
    "rollup": (
        lambda r: {"p": r.randrange(1000, 200000, 1000)},
        """select o_orderstatus, o_orderpriority, count(*) as cnt,
                  sum(o_totalprice) as total
           from orders where o_totalprice > {p}
           group by o_orderstatus, o_orderpriority with rollup""",
        """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                  sum(o_totalprice) AS total
           FROM orders WHERE o_totalprice > {p}
           GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"""),
    "order_limit": (
        lambda r: {"m": r.choice([2, 3, 5]), "k": r.randrange(5, 40)},
        """select o_orderkey, o_totalprice from orders
           where o_custkey % {m} = 1
           order by o_totalprice desc, o_orderkey limit {k}""",
        """SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_custkey % {m} = 1
           ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}"""),
    "exists": (
        lambda r: {"q": r.randrange(30, 50)},
        """select o_orderkey from orders o
           where exists (select 1 from lineitem l
                         where l.l_orderkey = o.o_orderkey
                           and l.l_quantity > {q})""",
        """SELECT o_orderkey FROM orders o
           WHERE EXISTS (SELECT 1 FROM lineitem l
                         WHERE l.l_orderkey = o.o_orderkey
                           AND l.l_quantity > {q})"""),
    "in_subquery": (
        lambda r: {"p": r.randrange(100000, 400000, 1000)},
        """select c_custkey, c_name from customer
           where c_custkey in (select o_custkey from orders
                               where o_totalprice > {p})""",
        """SELECT c_custkey, c_name FROM customer
           WHERE c_custkey IN (SELECT o_custkey FROM orders
                               WHERE o_totalprice > {p})"""),
    "scalar_subquery": (
        lambda r: {"f": r.choice([1.1, 1.25, 1.5, 1.75, 2.0])},
        """select o_orderkey, o_totalprice from orders
           where o_totalprice >
                 (select avg(o_totalprice) from orders) * {f}""",
        """SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_totalprice >
                 (SELECT avg(o_totalprice) FROM orders) * {f}"""),
    "union": (
        lambda r: {"a": r.randrange(-500, 8000, 100)},
        """select c_nationkey as k from customer where c_acctbal > {a}
           union select s_nationkey as k from supplier""",
        """SELECT c_nationkey AS k FROM customer WHERE c_acctbal > {a}
           UNION SELECT s_nationkey AS k FROM supplier"""),
    "over_rank": (
        lambda r: {"k": r.randrange(1, 5)},
        """select o_custkey, o_orderkey, rn
           from (select o_custkey, o_orderkey,
                        row_number() over (partition by o_custkey
                            order by o_totalprice desc, o_orderkey) as rn
                 from orders) as t
           where rn <= {k}""",
        """SELECT o_custkey, o_orderkey, rn
           FROM (SELECT o_custkey, o_orderkey,
                        row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
                 FROM orders) t
           WHERE rn <= {k}"""),
    "qualify": (
        lambda r: {"k": r.randrange(1, 4), "n": r.randrange(0, 30)},
        """select o_orderstatus, o_orderpriority, count(*) as n,
                  rank() over (partition by o_orderstatus
                      order by sum(o_totalprice) desc, o_orderpriority) as rk
           from orders group by o_orderstatus, o_orderpriority
           qualify rk <= {k} and n > {n}""",
        """SELECT * FROM (
             SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                    rank() OVER (PARTITION BY o_orderstatus
                        ORDER BY sum(o_totalprice) DESC, o_orderpriority) AS rk
             FROM orders GROUP BY o_orderstatus, o_orderpriority) t
           WHERE rk <= {k} AND n > {n}"""),
    "over_running": (
        lambda r: {"t": r.choice(["click", "view", "purchase"])},
        """select event_id, user_id,
                  count(*) over (partition by user_id
                      order by ts, event_id) as nth,
                  lag(event_type, 1, 'none') over (partition by user_id
                      order by ts, event_id) as prev_type
           from events where event_type <> '{t}'""",
        """SELECT event_id, user_id,
                  count(*) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS nth,
                  lag(event_type, 1, 'none') OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS prev_type
           FROM events WHERE event_type <> '{t}'"""),
    "fsql_tumble": (
        lambda r: {"h": r.choice([1, 2, 3, 6]), "v": r.randrange(0, 200)},
        """select event_type, count(*) as cnt, sum(value) as sv
           from events [size {h} h on ts] where value > {v}
           group by event_type""",
        """SELECT event_type, count(*) AS cnt, sum(value) AS sv,
                  {win_h}
           FROM events WHERE value > {v}
           GROUP BY ALL"""),
    "fsql_partitioned": (
        lambda r: {"h": r.choice([2, 4, 6, 12])},
        """select user_id, count(*) as cnt
           from events [size {h} h on ts partitioned on user_id]""",
        """SELECT user_id, count(*) AS cnt, {win_h}
           FROM events GROUP BY ALL"""),
    "fsql_delta": (
        lambda r: {"w": r.choice([10, 20, 25, 50])},
        """select count(*) as cnt from events [size {w} on value]""",
        """SELECT count(*) AS cnt, CAST(floor(value / {w}) AS BIGINT)
                  AS window_no
           FROM events GROUP BY window_no"""),
    "x_filter_group": (
        lambda r: {"v": r.randrange(0, 300),
                   "t": r.choice(["click", "view", "purchase"])},
        lambda eng, p: (
            eng.table("events")
            .filter(f"value > {p['v']} && !(event_type === '{p['t']}')")
            .group_by("user_id")
            .select("user_id, value.min as min_v, value.max as max_v, "
                    "value.count as n")
            .to_df()),
        """SELECT user_id, min(value) AS min_v, max(value) AS max_v,
                  count(value) AS n
           FROM events WHERE value > {v} AND NOT event_type = '{t}'
           GROUP BY user_id"""),
    "x_project": (
        lambda r: {"v": r.randrange(0, 400)},
        lambda eng, p: (
            eng.table("events").filter(f"value > {p['v']}")
            .select("event_id, (value + 1) * 2 as v2, "
                    "event_type.substring(1, 3) as pre")
            .to_df()),
        """SELECT event_id, (value + 1) * 2 AS v2,
                  substring(event_type, 1, 3) AS pre
           FROM events WHERE value > {v}"""),
    "llm_dedup_exact": (
        _subset,
        lambda eng, p: _llm().exact_dedup(_docs_subset(eng, p), "text",
                                          "doc_id"),
        ("oracle", "llm01_dedup_exact")),
    # an Arrow pandas UDF: the rows go through Python workers
    "llm_nfc": (
        _subset,
        lambda eng, p: _llm().nfc_normalize(_docs_subset(eng, p), "text",
                                            "doc_id"),
        ("oracle", "llm60_nfc_normalize")),
}


def _llm():
    from flink_dsl_spark import llm_ops
    return llm_ops


def _fill(template, params: dict, oracles: dict) -> str:
    if isinstance(template, tuple):
        # __spark_entry__'s oracle, `documents` narrowed to the subset
        body = oracles[template[1]].strip()
        cte = (f"documents AS (SELECT * FROM main.documents "
               f"WHERE doc_id % {params['m']} <> {params['r']})")
        if body[:4].upper() == "WITH":
            return f"WITH {cte}, {body[4:]}"
        return f"WITH {cte} {body}"
    if "{win_h}" in template:
        params = dict(params, win_h=_win(params["h"] * 3600))
    return template.format(**params)


class Interactive:
    """Read-only statements at sf0.001, one per template per pass, each
    with fresh seeded literals, each result collected."""

    name = "interactive"
    sf = "sf0.001"
    # a pass takes 4.5-6 s on 4 cores: the measured pass count always
    # outlasts --seconds 10, so every run measures the same passes
    min_passes = 3

    def __init__(self, ctx: Ctx):
        import __spark_entry__ as entry
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.eng = None
        self.keys = (["agg", "x_project", "llm_nfc"] if ctx.tiny
                     else list(TEMPLATES))
        self.oracles = entry.oracle_sql()

    def setup(self) -> None:
        from flink_dsl_spark import FsqlEngine
        eng = FsqlEngine(self.ctx.spark)
        with self.ctx.tracer.span("engine"):
            eng.load_dir(os.path.join(self.ctx.data_dir, self.sf))
        self.eng = eng

    def warm(self) -> None:
        # the first measured pass after one warm pass still ran 20-40%
        # slower than the later ones (JIT), after two within 10%
        for _ in range(1 if self.ctx.tiny else 2):
            self.run_pass(record=False)

    def run_pass(self, record: bool = True) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        for key in self.keys:
            gen, text, duck = TEMPLATES[key]
            params = gen(self.rng)
            layer = ("parser" if key.startswith("x_") else
                     "llm_ops" if key.startswith("llm_") else "engine")
            with tr.op(key):
                t0 = T()
                with tr.compiling(layer):
                    if callable(text):
                        df = text(self.eng, params)
                    else:
                        df = self.eng.sql(_fill(text, params, {}))
                t1 = T()
                tr.force_catalyst(df)
                with tr.span("exec"):
                    got = df.toPandas()
                t2 = T()
            if record:
                ctx.sample(key, _ms(t0, t2), _ms(t0, t1))
            ctx.checks.append(("compare", key, got,
                               _fill(duck, params, self.oracles)))


# ---------------------------------------------------------------------------
# analytic: the bench.py batch headline queries, forced through noop
# ---------------------------------------------------------------------------

# bench.py's batch headline queries that spend most in execution: its
# LLM-operator queries plus the heaviest joins, aggregates and windows
ANALYTIC = [
    "q01_pricing_summary", "q03_join_group", "q59_tpch_q5",
    "q65_tpch_q18", "llm01_dedup_exact", "llm03_dedup_minhash_lsh",
    "llm08_token_stats", "llm32_gopher_quality", "llm64_hll_registers",
    "q80_token_budget_hint",
]


class Analytic:
    """Ten of bench.py's batch headline queries at sf0.01, through the
    query functions of ``__spark_entry__``.  The untimed warm pass collects
    every result for the oracle; timed passes force each query through
    the noop sink."""

    name = "analytic"
    sf = "sf0.01"
    min_passes = 2

    def __init__(self, ctx: Ctx):
        import __spark_entry__ as entry
        self.ctx = ctx
        self.entry = entry
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.keys = ANALYTIC[:3] if ctx.tiny else ANALYTIC
        self.sf_dir = os.path.join(ctx.data_dir, self.sf)

    def setup(self) -> None:
        from flink_dsl_spark import FsqlEngine
        eng = FsqlEngine(self.ctx.spark)
        with self.ctx.tracer.span("engine"):
            eng.load_dir(self.sf_dir)
        # the query functions look their engine up in __spark_entry__'s
        # per-(session, dir) cache: hand them this one
        self.entry._ENGINES[(id(self.ctx.spark), self.sf_dir)] = eng

    def _compile(self, key: str):
        layer = "llm_ops" if key.startswith("llm") else "engine"
        with self.ctx.tracer.compiling(layer):
            return self.queries[key](self.ctx.spark, self.sf_dir)

    def warm(self) -> None:
        for key in self.keys:
            with self.ctx.tracer.op(key):
                got = self._compile(key).toPandas()
            self.ctx.checks.append(("compare", key, got, self.oracles[key]))

    def run_pass(self) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        for key in self.keys:
            with tr.op(key):
                t0 = T()
                df = self._compile(key)
                t1 = T()
                tr.force_catalyst(df)
                with tr.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = T()
            ctx.sample(key, _ms(t0, t2), _ms(t0, t1))


# ---------------------------------------------------------------------------
# stream: six streams over event-time-ordered files, one file a trigger
# ---------------------------------------------------------------------------

STREAMS = {
    # JVM state
    "tumble": (
        "complete",
        """select event_type, count(*) as cnt, sum(value) as sv
           from ev [size 1 h on ts] group by event_type""",
        f"""SELECT event_type, count(*) AS cnt, sum(value) AS sv,
                   {_win(3600)}
            FROM ev GROUP BY ALL"""),
    "tumble_users": (
        "complete",
        """select user_id, count(*) as n, sum(value) as sv
           from ev [size 10 min on ts] group by user_id""",
        f"""SELECT user_id, count(*) AS n, sum(value) AS sv,
                   {_win(600)}
            FROM ev GROUP BY ALL"""),
    "sliding": (
        "complete",
        """select event_type, count(*) as cnt
           from ev [size 2 h on ts every 1 h] group by event_type""",
        """WITH b AS (SELECT *, CAST(floor(epoch(ts) / 3600) AS BIGINT)
                             AS hb FROM ev),
                u AS (SELECT *, unnest([hb - 1, hb]) AS ws FROM b)
           SELECT event_type, count(*) AS cnt,
                  make_timestamp(ws * 3600 * 1000000) AS window_start,
                  make_timestamp((ws + 2) * 3600 * 1000000) AS window_end
           FROM u GROUP BY event_type, ws"""),
    "session": (
        "complete",
        """select user_id, count(*) as n
           from ev [session 30 min on ts] group by user_id""",
        """WITH o AS (
             SELECT user_id, ts,
                    CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                         THEN 1 ELSE 0 END AS ns
             FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sess FROM o)
           SELECT user_id, count(*) AS n, min(ts) AS window_start,
                  max(ts) + INTERVAL 1800 SECOND AS window_end
           FROM s GROUP BY user_id, sess"""),
    # Python state (applyInPandasWithState)
    "count": (
        "append",
        """select user_id, count(*) as cnt, sum(value) as sv
           from ev [size 5 partitioned on user_id] group by user_id""",
        """WITH r AS (SELECT user_id, value,
                             row_number() OVER (PARTITION BY user_id
                                                ORDER BY ts) AS rn
                      FROM ev),
                c AS (SELECT user_id, (rn - 1) // 5 AS window_no,
                             count(*) OVER (PARTITION BY user_id,
                                            (rn - 1) // 5) AS wsz, value
                      FROM r)
           SELECT user_id, count(*) AS cnt, sum(value) AS sv, window_no
           FROM c WHERE wsz = 5 GROUP BY user_id, window_no"""),
    "over_lag": (
        "append",
        """select user_id, event_id,
                  lag(event_type, 1, 'none') over (partition by user_id
                      order by ts, event_id) as prev_type,
                  sum(value) over (partition by user_id
                      order by ts, event_id
                      rows between unbounded preceding and current row)
                      as run_sum
           from ev""",
        """SELECT user_id, event_id,
                  lag(event_type, 1, 'none') OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS prev_type,
                  sum(value) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS run_sum
           FROM ev"""),
}


class Stream:
    """A seeded, contiguous slice of the sf0.1 events table, sorted by
    (ts, event_id) and cut at seeded points into parquet files; rows are
    shuffled inside each file.  Each stream reads one file a trigger
    (maxFilesPerTrigger=1) and runs to the end of the files
    (availableNow), so it gives a fixed number of micro-batches.  Each
    micro-batch is one operation.  The files are time-ordered, so every
    sink must equal the batch query over the same rows.

    Four streams keep JVM state and two Python state.  Python-state
    batches take about twice as long, so the batch-latency median would
    fall in the gap between the two clusters if the counts were equal;
    with twice as many JVM batches it falls inside the JVM cluster."""

    name = "stream"
    sf = "sf0.1"
    min_passes = 2                  # a pass takes 10-13 s on 4 cores
    EVENTS = 800
    FILES = 2
    # a stream is planned once a run, and one planning of ~90 ms is too
    # noisy a sample: each run plans the statement this many times (the
    # last plan is the one started) and records the median
    PLANS = 4

    def __init__(self, ctx: Ctx):
        import pyarrow.parquet as pq
        self.ctx = ctx
        events = pq.read_table(os.path.join(ctx.data_dir, self.sf,
                                            "events.parquet"))
        self.events = events.sort_by([("ts", "ascending"),
                                      ("event_id", "ascending")])
        self.n_events = 200 if ctx.tiny else self.EVENTS
        self.keys = list(STREAMS)
        self.runs = 0
        self.setups = 0
        self.sinks: list[tuple[str, str]] = []   # (stream key, sink table)

    def _cut(self, out_dir: str) -> None:
        """Write the slice as FILES time-ordered parquet files."""
        import numpy as np
        import pyarrow.parquet as pq
        rng = random.Random(self.ctx.seed)     # same files every set-up
        start = rng.randrange(0, self.events.num_rows - self.n_events)
        rows = self.events.slice(start, self.n_events)
        # each cut within a tenth of a file of the even split, so every
        # seed gives files of about the same size
        share = self.n_events // self.FILES
        bounds = ([0] + [i * share + rng.randrange(-share // 10,
                                                   share // 10 + 1)
                         for i in range(1, self.FILES)]
                  + [self.n_events])
        perm = np.random.default_rng(self.ctx.seed)
        for i in range(self.FILES):
            part = rows.slice(bounds[i], bounds[i + 1] - bounds[i])
            part = part.take(perm.permutation(part.num_rows))
            pq.write_table(part,
                           os.path.join(out_dir, f"part-{i:03d}.parquet"))

    def _engine(self, files: str):
        from flink_dsl_spark import FsqlEngine
        eng = FsqlEngine(self.ctx.spark)
        with self.ctx.tracer.span("engine"):
            eng.register_stream_parquet("ev", files, event_time_col="ts",
                                        max_files_per_trigger=1)
        return eng

    def setup(self) -> None:
        self.setups += 1
        d = os.path.join(self.ctx.work_dir, f"events-{self.setups}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self._cut(d)
        self.eng, self.files = self._engine(d), d

    def warm(self) -> None:
        """Each stream once over the first file only: loads the stream
        classes and starts the Python workers, for half a pass."""
        d = os.path.join(self.ctx.work_dir, "events-warm")
        os.makedirs(d)
        shutil.copy(os.path.join(self.files, "part-000.parquet"), d)
        eng = self._engine(d)
        for key in self.keys:
            self._run(eng, key, record=False)

    def run_pass(self) -> None:
        for key in self.keys:
            self._run(self.eng, key, record=True)

    def _run(self, eng, key: str, record: bool) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        mode, text, _ = STREAMS[key]
        self.runs += 1
        sink = f"sink_{key}_{self.runs}"
        compile_ms = []
        for _ in range(self.PLANS - 1):     # outside the traced operation
            t0 = T()
            eng.sql(text)
            compile_ms.append(_ms(t0, T()))
        with tr.op(key):
            t0 = T()
            with tr.compiling("engine"):
                df = eng.sql(text)
            compile_ms.append(_ms(t0, T()))
            with tr.span("streaming"):
                q = eng.start_sink(
                    df, name=sink, output_mode=mode,
                    checkpoint=os.path.join(ctx.work_dir, "ckpt", sink))
                tr.stream_run(q)
                q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream {key} failed: {q.exception()}")
        if not record:
            return
        self.sinks.append((key, sink))
        progress = q.recentProgress
        data = [p for p in progress if p["numInputRows"] > 0]
        for i, p in enumerate(data):
            ctx.sample(key, float(p["durationMs"]["triggerExecution"]),
                       statistics.median(compile_ms) if i == 0 else None)
        for p in progress:
            dur = p["durationMs"]
            ops = p["stateOperators"]
            ctx.batches.append({
                "key": key, "rows": p["numInputRows"],
                "ms": dur.get("triggerExecution", 0),
                "addBatch": dur.get("addBatch", 0),
                "queryPlanning": dur.get("queryPlanning", 0),
                "walCommit": dur.get("walCommit", 0),
                "state_commit": sum(o.get("commitTimeMs", 0) for o in ops),
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "state_bytes": sum(o.get("memoryUsedBytes", 0)
                                   for o in ops)})

    def collect_checks(self) -> None:
        ctx = self.ctx
        ctx.checks.append(("exec", "CREATE VIEW ev AS SELECT * FROM "
                           f"read_parquet('{self.files}/*.parquet')"))
        for key, sink in self.sinks:
            got = ctx.spark.table(sink).toPandas()
            ctx.checks.append(("compare", key, got, STREAMS[key][2]))


# ---------------------------------------------------------------------------
# dml: seeded writes on a small session table, read every few writes
# ---------------------------------------------------------------------------

_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"


def _dml_cycle(rng: random.Random, t: str, cycle: int) -> list[tuple]:
    """One cycle: (kind, FSQL, DuckDB) statements.  Inserted keys get a
    per-cycle offset, so no insert collides with an existing key."""
    base = 10_000_000 * (cycle + 1)
    m = rng.choice([3, 4, 5, 7])
    r = rng.randrange(m)
    rows = ", ".join(f"({base + i}, {rng.randrange(1, 150)}, 'N', "
                     f"{rng.randrange(100, 99999)}.25)"
                     for i in range(rng.randrange(2, 6)))
    f = rng.choice([1.5, 2.0, 2.5])
    cut = rng.randrange(5000, 60000, 500)
    mk = rng.choice([0, base])          # merge onto base rows or inserts
    read = (f"""select o_orderstatus, count(*) as n, sum(o_totalprice)
                       as total, min(o_orderkey) as k
                from {t} where o_custkey % {m} <> {r}
                group by o_orderstatus""",
            f"""SELECT o_orderstatus, count(*) AS n, sum(o_totalprice)
                       AS total, min(o_orderkey) AS k
                FROM {t} WHERE o_custkey % {m} <> {r}
                GROUP BY o_orderstatus""")
    merge_src = (f"(select o_orderkey + {mk} as k, o_totalprice as p "
                 f"from orders where o_orderkey % {m} = {r})")
    return [
        ("create",
         f"create stream {t} as (select {_COLS} from orders)",
         f"CREATE TABLE {t} AS SELECT {_COLS} FROM orders"),
        ("insert_values",
         f"insert into {t} ({_COLS}) values {rows}",
         f"INSERT INTO {t} ({_COLS}) VALUES {rows}"),
        ("update",
         f"update {t} set o_totalprice = o_totalprice * {f}, "
         f"o_orderstatus = 'U' where o_custkey % {m} = {r}",
         f"UPDATE {t} SET o_totalprice = o_totalprice * {f}, "
         f"o_orderstatus = 'U' WHERE o_custkey % {m} = {r}"),
        ("read",) + read,
        ("insert_select",
         f"insert into {t} select o_orderkey + {base + 5000}, o_custkey, "
         f"'I', o_totalprice from orders where o_custkey % {m} = {r}",
         f"INSERT INTO {t} SELECT o_orderkey + {base + 5000}, o_custkey, "
         f"'I', o_totalprice FROM orders WHERE o_custkey % {m} = {r}"),
        ("delete",
         f"delete from {t} where o_totalprice < {cut}",
         f"DELETE FROM {t} WHERE o_totalprice < {cut}"),
        ("read",) + read,
        ("merge",
         f"merge into {t} using {merge_src} as s on {t}.o_orderkey = s.k "
         f"when matched then update set o_totalprice = s.p, "
         f"o_orderstatus = 'M' "
         f"when not matched then insert ({_COLS}) "
         f"values (s.k, 0, 'X', s.p)",
         # DuckDB 1.0 has no MERGE: update the matches, then insert the
         # rest (keys never change, so matching after the update agrees)
         [f"UPDATE {t} SET o_totalprice = s.p, o_orderstatus = 'M' "
          f"FROM {merge_src} AS s "
          f"WHERE {t}.o_orderkey = s.k",
          f"INSERT INTO {t} SELECT s.k, 0, 'X', s.p FROM "
          f"{merge_src} AS s WHERE s.k NOT IN "
          f"(SELECT o_orderkey FROM {t})"]),
        ("read",) + read,
        ("drop", f"drop stream {t}", f"DROP TABLE {t}"),
    ]


class Dml:
    """Cycles of INSERT VALUES, UPDATE, INSERT SELECT, DELETE and MERGE
    on a session table copied from sf0.001 orders, read after every one
    or two writes.  Each cycle starts from a fresh table, so a pass
    sees the same lineage depths every time."""

    name = "dml"
    sf = "sf0.001"
    min_passes = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.cycle = 0

    def setup(self) -> None:
        from flink_dsl_spark import FsqlEngine
        eng = FsqlEngine(self.ctx.spark)
        with self.ctx.tracer.span("engine"):
            eng.load_dir(os.path.join(self.ctx.data_dir, self.sf))
        self.eng = eng

    def warm(self) -> None:
        self.run_pass(record=False)

    def run_pass(self, record: bool = True) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        self.cycle += 1
        t = f"dm{self.cycle}"
        for kind, text, duck in _dml_cycle(self.rng, t, self.cycle):
            with tr.op(kind):
                t0 = T()
                with tr.compiling("engine"):
                    df = self.eng.sql(text)
                t1 = T()
                got = None
                if kind == "read":
                    tr.force_catalyst(df)
                    with tr.span("exec"):
                        got = df.toPandas()
                t2 = T()
            if record:
                ctx.sample(kind, _ms(t0, t2), _ms(t0, t1))
            if got is None:
                for stmt in ([duck] if isinstance(duck, str) else duck):
                    ctx.checks.append(("exec", stmt))
            else:
                ctx.checks.append(("compare", f"read@{t}", got, duck))


WORKLOADS = {w.name: w for w in (Interactive, Analytic, Stream, Dml)}


def geomean(values: list[float]) -> float:
    import math
    return math.exp(statistics.fmean(math.log(max(v, 1e-9))
                                     for v in values))
