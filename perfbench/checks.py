"""Output checks against an independent engine (DuckDB) on the same
parquet tables.

Each check entry comes from the JVM side: a JSON response (or a CSV or
Arrow response's decoded row count and column checksum, or a library
query's result written as parquet) plus how many timed operations
returned it.
A mismatch fails every one of those operations.
"""
import datetime
import json
import math
import os
import sys

import duckdb

# the library oracle comparison is the repository's own (tools/check.py)
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import TABLES, frame  # noqa: E402

CUSTOMER_COLS = """c_custkey AS key, c_name AS name, round(c_acctbal, 2) AS balance,
  {'segment': c_mktsegment, 'nation': {'nationkey': c_nationkey}} AS contact"""


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def _customer_filter(p):
    where = [f"c_acctbal >= {float(p.get('min_balance', '0'))!r}"]
    if "segment" in p:
        where.append(f"c_mktsegment LIKE '%{p['segment']}%'")
    where.append(f"c_custkey = {int(p['id'])}" if "id" in p else "c_custkey > 0")
    return " AND ".join(where)


def expected_read(con, ep, p):
    """(rows, envelope) a correct server returns for one read; envelope is
    None for a bare JSON array."""
    if ep == "customer":
        return _rows(con, f"SELECT {CUSTOMER_COLS} FROM customer WHERE {_customer_filter(p)} "
                          "ORDER BY c_custkey"), None
    if ep == "customers":
        off, lim = int(p.get("offset", 0)), int(p.get("limit", 100))
        where = _customer_filter(p)
        rows = _rows(con, f"SELECT {CUSTOMER_COLS} FROM customer WHERE {where} "
                          f"ORDER BY c_custkey LIMIT {lim} OFFSET {off}")
        total = con.execute(f"SELECT count(*) FROM customer WHERE {where}").fetchone()[0]
        nxt = f"/customers?offset={off + lim}&limit={lim}" if off + lim < total else None
        return rows, {"next": nxt, "total_count": total}
    if ep == "orders-page":
        after, lim = int(p["after"]), int(p.get("limit", 100))
        rows = _rows(con, "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
                          f"FROM orders WHERE o_orderkey > {after} ORDER BY o_orderkey LIMIT {lim}")
        total = con.execute("SELECT count(*) FROM orders").fetchone()[0]
        nxt = (f"/orders-page?after={rows[-1]['o_orderkey']}&limit={lim}"
               if rows and len(rows) == lim else None)
        return rows, {"next": nxt, "total_count": total}
    if ep == "latest-order":
        return _rows(con, "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate, "
                          f"o_totalprice FROM orders WHERE o_custkey BETWEEN {int(p['lo'])} "
                          f"AND {int(p['hi'])} ORDER BY o_custkey, o_orderdate DESC, "
                          "o_orderkey DESC"), None
    if ep == "order-lines":
        return _rows(con, "SELECT o.o_orderkey AS orderkey, o.o_orderdate AS orderdate, "
                          "o.o_totalprice AS total, list_sort(list({'line': l.l_linenumber, "
                          "'part': l.l_partkey, 'qty': l.l_quantity, "
                          "'price': l.l_extendedprice})) AS lines "
                          "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
                          f"WHERE o.o_orderkey = {int(p['id'])} "
                          "GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice"), None
    if ep == "nation-summary":
        return _rows(con, "SELECT n_nationkey, n_name, count(*) AS customers, "
                          "round(sum(c_acctbal), 2) AS balance FROM customer "
                          "JOIN nation ON c_nationkey = n_nationkey "
                          f"WHERE n_nationkey = {int(p['nation'])} "
                          "GROUP BY n_nationkey, n_name"), None
    raise ValueError(f"no oracle for endpoint {ep}")


def _same(want, got):
    if isinstance(want, dict):
        return (isinstance(got, dict) and set(want) == set(got)
                and all(_same(want[k], got[k]) for k in want))
    if isinstance(want, (list, tuple)):
        return (isinstance(got, list) and len(want) == len(got)
                and all(_same(w, g) for w, g in zip(want, got)))
    if isinstance(want, datetime.datetime):
        return got == want.strftime("%Y-%m-%dT%H:%M:%S.") + f"{want.microsecond // 1000:03d}Z"
    if isinstance(want, float) or isinstance(got, float):
        return (isinstance(got, (int, float)) and want is not None
                and math.isclose(float(want), float(got), rel_tol=1e-9, abs_tol=1e-6))
    return want == got


def check_read(con, e):
    body = json.loads(e["body"])
    if e["mcp"]:
        body = json.loads(body["result"]["content"][0]["text"])
    rows, env = expected_read(con, e["ep"], e["params"])
    if env is None:
        return _same(rows, body)
    return (_same(rows, body["data"]) and body["next"] == env["next"]
            and body["total_count"] == env["total_count"])


def check_slice(con, e):
    """A CSV or Arrow line-item slice: row count and sum of l_partkey."""
    want = con.execute("SELECT count(*), sum(l_partkey) FROM lineitem "
                       f"WHERE l_orderkey < {int(e['params']['maxkey'])}").fetchone()
    return (e["rows"], e["checksum"]) == tuple(want)


def check_query(con, e):
    """A library query's result equals its oracle's, as a multiset of rows
    with floats compared to 9 decimals; without an oracle it must exist."""
    got = frame(con, f"SELECT * FROM read_parquet('{e['path']}/*.parquet')")
    if e.get("oracle") is None:
        return True
    return got == frame(con, e["oracle"])


def run(data_dir, entries):
    """Return (failed operations, messages)."""
    con = connect(data_dir)
    failed, msgs = 0, []
    for e in entries:
        try:
            if "query" in e:
                ok = check_query(con, e)
            elif "body" in e:
                ok = check_read(con, e)
            else:
                ok = check_slice(con, e)
        except Exception as ex:  # a check that cannot run is a failed check
            ok, e = False, dict(e, error=str(ex)[:300])
        if not ok:
            failed += e.get("count", 1)
            what = e.get("query") or f"{e['ep']} {e.get('params')} mcp={e.get('mcp')} {e.get('fmt')}"
            msgs.append(f"check failed: {what} {e.get('error', '')}".rstrip())
    return failed, msgs
