"""kibana_panels: one dashboard viewer refreshing Kibana-style panels.

Panels are ``Engine.es_aggs`` bodies over the seeded ``events``, ``orders``
and ``lineitem`` tables (date histograms at several intervals behind an
``epoch_millis`` time picker, terms, nested split series, percentiles,
geotile grids), ``Engine.dashboard_*`` panels over an OWID-conformed facts
table, and ``Engine.sql`` join panels. Nothing here touches a search index.

Every distinct panel's rows are checked against DuckDB computing the same
panel over the same parquet files.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import gen
from latency import tail_percentile
from workload import Op, op, timed

CLIENTS = 1
N_REQUESTS = 22  # distinct panels, the same number for every seed
# A round is two passes over the panels; the window ends on a whole round.
ROUND_OPS = 2 * N_REQUESTS
# The tail rule applied to the ops of one round: p75.
TAIL_P = tail_percentile(ROUND_OPS) or 50.0
REL_TOL = 1e-9
ABS_TOL = 1e-6
MERCATOR_MAX_LAT = 85.05112877980659


def _epoch_ms(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


# ----------------------------------------------------------------- inputs


def requests(seed: int) -> list[Op]:
    """Every panel variant once: the mix is the same for every seed, the
    seed draws time-picker ranges, thresholds, sizes and years."""
    r = gen.rng(seed, "panel-requests")
    out = []
    for iv in ("day", "week", "month"):
        lo = gen.EVENTS_START + dt.timedelta(days=int(r.integers(0, 60)))
        hi = lo + dt.timedelta(days=int(r.integers(60, 120)))
        out.append(op("date_histogram", iv, _epoch_ms(lo), _epoch_ms(hi)))
    out += [op("terms", int(r.integers(3, 6)), round(float(r.uniform(1, 20)), 2))
            for _ in range(2)]
    out += [op("split_series", int(r.integers(2, 4)), iv) for iv in ("week", "month")]
    out += [op(f"dashboard_{v}", int(r.integers(5, 15)))
            for v in ("timeseries", "top", "map", "totals")]
    out += [op("percentiles", round(float(r.uniform(0, 10)), 2)) for _ in range(2)]
    out += [op("geotile", z) for z in (2, 3, 4)]
    out += [op("lineitem_monthly", str(f))
            for f in r.choice(["A", "N", "R"], 2, replace=False)]
    for _ in range(2):
        lo = gen.ORDERS_START + dt.timedelta(days=int(r.integers(0, 5 * 365)))
        hi = lo + dt.timedelta(days=int(r.integers(180, 720)))
        out.append(op("orders_priority", _epoch_ms(lo), _epoch_ms(hi)))
    out += [op("sql_join", int(y)) for y in r.choice(range(1992, 1998), 2, replace=False)]
    return out


def _small_tables(seed: int) -> dict:
    """Tiny stand-ins for the catalog tables the panels never read, so
    ``Engine.sql`` can register its full view set."""
    import pyarrow as pa

    r = gen.rng(seed, "dims")
    n = 25
    vocab = gen.vocabulary(seed, 200)
    return {
        "region": pa.table({"r_regionkey": list(range(5)),
                            "r_name": [f"R{i}" for i in range(5)]}),
        "nation": pa.table({"n_nationkey": list(range(n)),
                            "n_name": [f"N{i}" for i in range(n)],
                            "n_regionkey": [i % 5 for i in range(n)]}),
        "customer": pa.table({"c_custkey": list(range(100)),
                              "c_nationkey": [int(x) for x in r.integers(0, n, 100)]}),
        "supplier": pa.table({"s_suppkey": list(range(50)),
                              "s_nationkey": [int(x) for x in r.integers(0, n, 50)]}),
        "part": pa.table({"p_partkey": list(range(100)),
                          "p_retailprice": [float(x) for x in r.uniform(1, 100, 100)]}),
        "documents": gen.documents(seed, vocab, 100),
        "embeddings": gen.embeddings(seed, 100),
    }


def make_inputs(seed: int, data_dir: str) -> dict:
    tables = {"events": gen.events(seed), "orders": gen.orders(seed),
              "lineitem": gen.lineitem(seed), "facts": gen.facts(seed)}
    tables.update(_small_tables(seed))
    nbytes = 0
    for name, t in tables.items():
        nbytes += gen.write_parquet(t, os.path.join(data_dir, f"{name}.parquet"))
    reqs = requests(seed)
    # The warm-up runs every panel once: a panel's first runs pay its plan's
    # codegen and the JIT of the generated code.
    return {"sf_dir": data_dir, "seed": seed, "bytes": nbytes,
            "requests": reqs, "warm": reqs}


# ------------------------------------------------------------------ setup


def setup(ctx) -> None:
    from pandemic_knowledge_spark.engine import Engine

    with ctx.tracer.span("tables.register"):
        eng = Engine(ctx.spark, ctx.inputs["sf_dir"])
        eng.sql("SELECT 1")  # registers the full view set
        ctx.facts = ctx.spark.read.parquet(
            os.path.join(ctx.inputs["sf_dir"], "facts.parquet"))
    ctx.engine = eng


# ----------------------------------------------------------------- panels


def _range_ms(field: str, lo: int, hi: int) -> dict:
    return {"range": {field: {"gte": lo, "lt": hi, "format": "epoch_millis"}}}


SQL_JOIN = """
SELECT o_orderpriority, count(*) AS n,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '{y}-01-01' AND o_orderdate < TIMESTAMP '{y1}-01-01'
GROUP BY o_orderpriority
"""


def plan(ctx, op: Op):
    eng, p = ctx.engine, op.params
    k = op.kind
    if k == "date_histogram":
        return eng.es_aggs({"query": _range_ms("ts", p[1], p[2]), "aggs": {"h": {
            "date_histogram": {"field": "ts", "calendar_interval": p[0]},
            "aggs": {"s": {"sum": {"field": "value"}}}}}})["h"]
    if k == "terms":
        return eng.es_aggs({"query": {"range": {"value": {"gte": p[1]}}}, "aggs": {"t": {
            "terms": {"field": "event_type", "size": p[0]},
            "aggs": {"a": {"avg": {"field": "value"}}}}}})["t"]
    if k == "split_series":
        return eng.es_aggs({"aggs": {"t": {
            "terms": {"field": "event_type", "size": p[0]},
            "aggs": {"w": {"date_histogram": {"field": "ts", "calendar_interval": p[1]},
                           "aggs": {"m": {"max": {"field": "value"}}}}}}}})["t"]
    if k == "percentiles":
        return eng.es_aggs({"query": {"range": {"value": {"gte": p[0]}}}, "aggs": {"t": {
            "terms": {"field": "event_type", "size": len(gen.EVENT_TYPES)},
            "aggs": {"p": {"percentiles": {"field": "value",
                                           "percents": [50.0, 95.0]}}}}}})["t"]
    if k == "geotile":
        return eng.es_aggs({"aggs": {"g": {
            "geotile_grid": {"field": "loc", "precision": p[0]}}}})["g"]
    if k == "lineitem_monthly":
        return eng.es_aggs({"query": {"term": {"l_returnflag": p[0]}}, "aggs": {"m": {
            "date_histogram": {"field": "l_shipdate", "calendar_interval": "month"},
            "aggs": {"r": {"sum": {"field": "l_extendedprice"}}}}}},
            table="lineitem")["m"]
    if k == "orders_priority":
        return eng.es_aggs({"query": _range_ms("o_orderdate", p[0], p[1]), "aggs": {"p": {
            "terms": {"field": "o_orderpriority", "size": len(gen.PRIORITIES)},
            "aggs": {"s": {"sum": {"field": "o_totalprice"}}}}}},
            table="orders")["p"]
    if k == "sql_join":
        return eng.sql(SQL_JOIN.format(y=p[0], y1=p[0] + 1))
    facts = ctx.facts
    if k == "dashboard_timeseries":
        return eng.dashboard_timeseries(facts, grain="week")
    if k == "dashboard_top":
        return eng.dashboard_top_locations(facts, n=p[0])
    if k == "dashboard_map":
        return eng.dashboard_map(facts, cell_deg=float(p[0]))
    return eng.dashboard_totals(facts)


def run_op(ctx, op: Op, tr, i: int):
    return timed(tr, i, lambda: plan(ctx, op),
                 lambda df: tuple(tuple(r) for r in df.collect()))


# ----------------------------------------------------------------- checks


def _geotile_sql(zoom: int) -> tuple[str, str]:
    n = float(1 << zoom)
    lat = f"greatest(least(loc.lat, {MERCATOR_MAX_LAT!r}), {-MERCATOR_MAX_LAT!r})"
    x = f"floor(round((loc.lon + 180.0) / 360.0 * {n!r}, 9))"
    y = (f"floor(round((1.0 - ln(tan(radians({lat})) + 1.0 / cos(radians({lat})))"
         f" / pi()) / 2.0 * {n!r}, 9))")
    clamp = lambda e: f"CAST(least(greatest({e}, 0), {int(n) - 1}) AS BIGINT)"  # noqa: E731
    return clamp(x), clamp(y)


def reference_sql(op: Op) -> str:
    """The DuckDB statement that computes the same panel."""
    k, p = op.kind, op.params
    if k == "date_histogram":
        return (f"SELECT CAST(date_trunc('{p[0]}', ts) AS TIMESTAMP) AS key, count(*), sum(value) "
                f"FROM events WHERE ts >= epoch_ms({p[1]}) AND ts < epoch_ms({p[2]}) "
                f"GROUP BY 1")
    if k == "terms":
        return (f"SELECT event_type, count(*) AS c, avg(value) FROM events "
                f"WHERE value >= {p[1]} GROUP BY 1 ORDER BY c DESC, event_type "
                f"LIMIT {p[0]}")
    if k == "split_series":
        return (f"WITH top AS (SELECT event_type FROM events GROUP BY 1 "
                f"ORDER BY count(*) DESC, event_type LIMIT {p[0]}) "
                f"SELECT e.event_type, CAST(date_trunc('{p[1]}', ts) AS TIMESTAMP), count(*), max(value) "
                f"FROM events e JOIN top USING (event_type) GROUP BY 1, 2")
    if k == "percentiles":
        return (f"SELECT event_type, count(*), quantile_cont(value, 0.5), "
                f"quantile_cont(value, 0.95) FROM events WHERE value >= {p[0]} "
                f"GROUP BY 1")
    if k == "geotile":
        x, y = _geotile_sql(p[0])
        return (f"SELECT concat_ws('/', '{p[0]}', CAST({x} AS VARCHAR), "
                f"CAST({y} AS VARCHAR)), count(*) FROM events GROUP BY 1")
    if k == "lineitem_monthly":
        return (f"SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP), count(*), sum(l_extendedprice) "
                f"FROM lineitem WHERE l_returnflag = '{p[0]}' GROUP BY 1")
    if k == "orders_priority":
        return (f"SELECT o_orderpriority, count(*), sum(o_totalprice) FROM orders "
                f"WHERE o_orderdate >= epoch_ms({p[0]}) AND o_orderdate < epoch_ms({p[1]}) "
                f"GROUP BY 1")
    if k == "sql_join":
        return SQL_JOIN.format(y=p[0], y1=p[0] + 1)
    if k == "dashboard_timeseries":
        return ("SELECT CAST(date_trunc('week', date_start) AS TIMESTAMP), sum(confirmed) FROM facts "
                "GROUP BY 1")
    if k == "dashboard_top":
        return (f"SELECT location_name, sum(confirmed) AS c FROM facts GROUP BY 1 "
                f"ORDER BY c DESC, location_name LIMIT {p[0]}")
    if k == "dashboard_map":
        d = float(p[0])
        return (f"SELECT CAST(floor(geo.lat / {d}) AS BIGINT), "
                f"CAST(floor(geo.lon / {d}) AS BIGINT), sum(confirmed) FROM facts "
                f"WHERE geo.lat IS NOT NULL GROUP BY 1, 2")
    return ("SELECT sum(confirmed), sum(deaths), sum(vaccinated), sum(tested) "
            "FROM facts")


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def _sort_key(row: tuple) -> tuple:
    return tuple((0, round(v, 4)) if isinstance(v, float) else (1, str(v)) for v in row)


def same_rows(got: tuple, want: list[tuple]) -> str | None:
    """Row-set equality with a float tolerance (sums are order-dependent)."""
    if len(got) != len(want):
        return f"{len(got)} rows, DuckDB has {len(want)}"
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_close(a, b) for a, b in zip(g, w)):
            return f"row {g} != DuckDB {w}"
    return None


def check(ctx, results: dict[str, list]) -> dict[str, str]:
    import duckdb

    ops = {o.key: o for o in ctx.inputs["requests"]}
    con = duckdb.connect()
    try:
        for name in ("events", "orders", "lineitem", "facts"):
            path = os.path.join(ctx.inputs["sf_dir"], f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for key, got_list in results.items():
            want = con.execute(reference_sql(ops[key])).fetchall()
            for got in got_list:
                msg = same_rows(got, want)
                if msg:
                    out[key] = msg
                    break
    finally:
        con.close()
    return out
