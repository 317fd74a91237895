"""Dashboards, the rollup task and their DuckDB companions.

Every dashboard is DuckDB-dialect SQL, as a user would write it for the
reference server: sections, labels, one dropdown that defines a
variable, ``getvariable`` filters and small ``GROUP BY ALL`` charts.
Each has a ``'<name>.csv'::DOWNLOAD_CSV`` button whose target statement
is exported by the download route and skipped by renders.

The companion of a statement is the same SQL with the shaper type casts
(``::BARCHART`` ...) removed and ``getvariable('v')`` replaced by the
chosen value, so DuckDB itself gives the expected rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import re
from dataclasses import dataclass


@dataclass(frozen=True)
class Dashboard:
    id: str
    title: str
    var: str
    values: tuple[str, ...]
    # (kind, sql): kind is "section", "label", "download" (the button
    # widget), "export" (the download target, skipped by renders) or
    # "query" (a statement whose result is a widget in the render).
    statements: tuple[tuple[str, str], ...]

    @property
    def content(self) -> str:
        return ";\n".join(sql for _, sql in self.statements) + ";\n"

    @property
    def widgets(self) -> list[tuple[str, str]]:
        """Statements that show up in a render, in order: queries and
        the download button."""
        return [(k, sql) for k, sql in self.statements
                if k in ("query", "download")]

    @property
    def export(self) -> str:
        return next(sql for kind, sql in self.statements if kind == "export")

    @property
    def filename(self) -> str:
        return f"{self.id}.csv"


def _dash(id, title, var, values, dropdown, export, *rest) -> Dashboard:
    stmts = [
        ("section", f"SELECT '{title}'::SECTION"),
        ("query", dropdown),
        ("download", f"SELECT '{id}.csv'::DOWNLOAD_CSV"),
        ("export", export),
        *rest,
    ]
    return Dashboard(id, title, var, tuple(values), tuple(stmts))


# --- light: sf0.01, 5-8 statements, fixed per-statement costs dominate ---

LIGHT = (
    _dash(
        "events", "Events overview", "etype",
        ("click", "error", "purchase", "signup", "view"),
        "SELECT DISTINCT event_type::DROPDOWN AS etype FROM events ORDER BY 1",
        "SELECT event_id, ts, user_id, value FROM events "
        "WHERE event_type = getvariable('etype') AND ts < '2024-01-03' "
        "ORDER BY event_id",
        ("label", "SELECT 'Events per day'::LABEL"),
        ("query",
         "SELECT date_trunc('day', ts)::XAXIS, count()::BARCHART AS n "
         "FROM events WHERE event_type = getvariable('etype') "
         "GROUP BY ALL ORDER BY ALL"),
        ("query",
         "SELECT count(*) AS events, round(sum(value), 2) AS total_value "
         "FROM events WHERE event_type = getvariable('etype')"),
        ("query",
         "SELECT event_type, round(avg(value), 2) AS avg_value "
         "FROM events GROUP BY ALL ORDER BY ALL"),
    ),
    _dash(
        "orders", "Orders", "prio",
        ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        "SELECT DISTINCT o_orderpriority::DROPDOWN AS prio FROM orders "
        "ORDER BY 1",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_orderpriority = getvariable('prio') "
        "AND o_orderdate >= '2001-01-01' ORDER BY o_orderkey",
        ("label", "SELECT 'Orders per year'::LABEL"),
        ("query",
         "SELECT date_trunc('year', o_orderdate)::XAXIS, "
         "o_orderstatus::CATEGORY, count()::BARCHART_STACKED AS n "
         "FROM orders WHERE o_orderpriority = getvariable('prio') "
         "GROUP BY ALL ORDER BY ALL"),
        ("query",
         "SELECT o_orderstatus, count(*) AS n, "
         "round(avg(o_totalprice), 2) AS avg_price FROM orders "
         "WHERE o_orderpriority = getvariable('prio') "
         "GROUP BY ALL ORDER BY ALL"),
    ),
    _dash(
        "customers", "Customers", "seg",
        ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        "SELECT DISTINCT c_mktsegment::DROPDOWN AS seg FROM customer "
        "ORDER BY 1",
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_mktsegment = getvariable('seg') ORDER BY c_custkey",
        ("label", "SELECT 'Balance by nation'::LABEL"),
        ("query",
         "SELECT n_name::XAXIS, round(sum(c_acctbal), 2)::BARCHART AS balance "
         "FROM customer JOIN nation ON c_nationkey = n_nationkey "
         "WHERE c_mktsegment = getvariable('seg') GROUP BY ALL ORDER BY ALL"),
        ("query",
         "SELECT count(*) AS customers, round(avg(c_acctbal), 2) AS avg_balance "
         "FROM customer WHERE c_mktsegment = getvariable('seg')"),
        ("section", "SELECT 'Top customers'::SECTION"),
        ("query",
         "SELECT c_name, c_acctbal AS balance FROM customer "
         "WHERE c_mktsegment = getvariable('seg') "
         "ORDER BY c_acctbal DESC, c_name LIMIT 10"),
    ),
    _dash(
        "shipping", "Shipping", "flag",
        ("A", "N", "R"),
        "SELECT DISTINCT l_returnflag::DROPDOWN AS flag FROM lineitem "
        "ORDER BY 1",
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
        "WHERE l_returnflag = getvariable('flag') AND l_shipdate < '1995-03-01' "
        "ORDER BY l_orderkey, l_linenumber",
        ("query",
         "SELECT date_trunc('year', l_shipdate)::XAXIS, "
         "l_linestatus::CATEGORY, sum(l_quantity)::LINECHART AS qty "
         "FROM lineitem WHERE l_returnflag = getvariable('flag') "
         "GROUP BY ALL ORDER BY ALL"),
        ("query",
         "SELECT l_linestatus, count(*) AS lines, "
         "round(avg(l_discount), 4) AS avg_discount FROM lineitem "
         "WHERE l_returnflag = getvariable('flag') GROUP BY ALL ORDER BY ALL"),
    ),
    _dash(
        "parts", "Parts catalog", "ptype",
        ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        "SELECT DISTINCT p_type::DROPDOWN AS ptype FROM part ORDER BY 1",
        "SELECT p_partkey, p_name, p_retailprice FROM part "
        "WHERE p_type = getvariable('ptype') ORDER BY p_partkey",
        ("label", "SELECT 'Parts per brand'::LABEL"),
        ("query",
         "SELECT p_brand::XAXIS, count()::BARCHART AS parts FROM part "
         "WHERE p_type = getvariable('ptype') GROUP BY ALL ORDER BY ALL"),
        ("query",
         "SELECT min(p_retailprice) AS min_price, "
         "max(p_retailprice) AS max_price, count(*) AS parts FROM part "
         "WHERE p_type = getvariable('ptype')"),
    ),
)

# --- heavy: sf0.1, 5-table joins, bound by execution ---

_JOIN5 = (
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey"
)

HEAVY = (
    _dash(
        "revenue", "Revenue", "seg",
        ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        "SELECT DISTINCT c_mktsegment::DROPDOWN AS seg FROM customer "
        "ORDER BY 1",
        "SELECT o_orderkey, c_name, n_name, o_totalprice "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_mktsegment = getvariable('seg') "
        "AND o_orderdate >= '2001-01-01' ORDER BY o_orderkey",
        ("query",
         "SELECT r_name::XAXIS, year(o_orderdate)::CATEGORY, "
         "round(sum(l_extendedprice * (1 - l_discount)), 2)::BARCHART_STACKED "
         f"AS revenue {_JOIN5} WHERE c_mktsegment = getvariable('seg') "
         "GROUP BY ALL ORDER BY ALL"),
    ),
    _dash(
        "regions", "Regions", "region",
        ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
        "SELECT r_name::DROPDOWN AS region FROM region ORDER BY 1",
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = getvariable('region') ORDER BY c_custkey",
        ("query",
         "SELECT date_trunc('year', o_orderdate)::XAXIS, "
         "c_mktsegment::CATEGORY, count()::LINECHART AS lines "
         f"{_JOIN5} WHERE r_name = getvariable('region') "
         "GROUP BY ALL ORDER BY ALL"),
    ),
    _dash(
        "priorities", "Priorities", "prio",
        ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        "SELECT DISTINCT o_orderpriority::DROPDOWN AS prio FROM orders "
        "ORDER BY 1",
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        "WHERE o_orderpriority = getvariable('prio') "
        "AND o_orderdate >= '2001-01-01' ORDER BY o_orderkey",
        ("query",
         "SELECT n_name, round(avg(l_discount), 4) AS avg_discount, "
         f"count(*) AS lines {_JOIN5} "
         "WHERE o_orderpriority = getvariable('prio') AND r_name = 'EUROPE' "
         "GROUP BY ALL ORDER BY ALL"),
    ),
)

# --- the write probe: an ingested table and a task that rolls it up ---

LIVE_TABLE = "live_events"
ROLLUP_TABLE = "live_rollup"

ROLLUP_TASK = (
    f"CREATE OR REPLACE TABLE {ROLLUP_TABLE} AS SELECT kind, "
    f"count(*) AS events, sum(amount) AS amount FROM {LIVE_TABLE} "
    "GROUP BY kind;\n"
    f"SELECT sum(events) AS events FROM {ROLLUP_TABLE};\n"
)

# --- companions and comparison ---

_TAG_RE = re.compile(r"::([A-Z_]+)\b")
_GETVAR_RE = re.compile(r"getvariable\('(\w+)'\)")


def companion(sql: str, var: str, value: str) -> str:
    """DuckDB SQL giving the rows the engine must return for ``sql``."""
    sql = _TAG_RE.sub("", sql)
    return _GETVAR_RE.sub(
        lambda m: "'" + value.replace("'", "''") + "'" if m.group(1) == var
        else m.group(0),
        sql,
    )


def wire_value(v):
    """A DuckDB value as the server's JSON carries it: timestamps and
    dates as epoch ms, decimals as floats, other values as they are."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp() * 1000)
    if isinstance(v, dt.date):
        return wire_value(dt.datetime(v.year, v.month, v.day))
    if isinstance(v, decimal.Decimal):
        return float(v)
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def decimals(x: float) -> int:
    """Digits after the point in the shortest decimal form of ``x``,
    trailing zeros dropped: 0.05 -> 2, 12.0 -> 0, 1.5e-07 -> 8."""
    if not math.isfinite(x):
        return 0
    mantissa, _, exp = repr(x).partition("e")
    frac = mantissa.partition(".")[2].rstrip("0")
    return max(0, len(frac) - int(exp or 0))


def column_tolerances(want: list[list]) -> list[float]:
    """Per column, one unit in the last decimal place that DuckDB's
    float values in it reach: 1e-4 for a column a statement rounds to 4
    places (the two engines may round a tie apart), 0 for a column of
    whole numbers.  Unrounded floats reach ~15 places, so for them only
    the relative 1e-9 of ``rows_match`` counts."""
    tol = []
    for j in range(len(want[0]) if want else 0):
        d = max(
            (decimals(r[j]) for r in want if isinstance(r[j], float)),
            default=0,
        )
        # a hair over one unit, for the float error of the difference
        tol.append(10.0 ** -d * (1 + 1e-6) if d else 0.0)
    return tol


def _same(got, want, tol: float) -> bool:
    if isinstance(got, bool) or isinstance(want, bool):
        return got is want
    if isinstance(want, float) and isinstance(got, (int, float)):
        return math.isclose(got, want, rel_tol=1e-9, abs_tol=tol)
    return got == want


def rows_match(got: list[list], want: list) -> bool:
    """Rows from the wire equal DuckDB's, in order: exactly, except
    floats within ``column_tolerances``."""
    want = [[wire_value(v) for v in row] for row in want]
    if len(got) != len(want):
        return False
    tol = column_tolerances(want)
    return all(
        len(g) == len(w) and all(map(_same, g, w, tol))
        for g, w in zip(got, want)
    )


def widget_rows(response: dict) -> list[list[list]]:
    """Rows of every widget in a render response, in statement order."""
    return [q["rows"] for s in response["sections"] for q in s["queries"]]


def shape_ok(dash: Dashboard, response: dict) -> bool:
    """Cheap check applied to every render response."""
    try:
        if response["sections"][0]["title"] != dash.title:
            return False
        queries = [q for s in response["sections"] for q in s["queries"]]
        if len(queries) != len(dash.widgets):
            return False
        for q, (kind, _) in zip(queries, dash.widgets):
            rtype = q["render"].get("type")
            if not rtype or not q["columns"]:
                return False
            if (kind == "download") != (rtype == "button"):
                return False
            width = len(q["columns"])
            if any(len(r) != width for r in q["rows"]):
                return False
        return True
    except (KeyError, IndexError, TypeError):
        return False
