"""Correctness checks of a run, made outside the timed region.

- dashboard: each checked response body is recomputed independently with
  DuckDB over the same generated parquet (the pattern of
  tools/check_oracle.py: same inputs, a second engine, compare values);
- lake: the JVM half keeps the model of the applied ops and reports its
  mismatches itself.

`fault=True` plants one wrong expectation per workload; the self-test in
tests/test_selftest.py uses it to show the checks catch a wrong answer.
"""
import csv
import io
import json
import math
import os
import random
from urllib.parse import parse_qs, urlsplit

import duckdb

CHECKED_SAMPLE = 40

# the reference's schema.sql column types (FIXTURES.md section B), as
# parquet carries them
SCHEMA = {
    "geographic_area": {"geographic_id": "int64", "borough_name": "string",
                        "borough_code": "int32", "block_code": "int32",
                        "lot_code": "int32"},
    "service_request": {"service_request_id": "int32", "geographic_id": "int64",
                        "agency_code": "string", "complaint_type_id": "int32",
                        "descriptor_id": "int32", "incident_address": "string",
                        "created_date": "date32[day]", "closed_date": "date32[day]",
                        "status": "string"},
    "complaint_type": {"complaint_type_id": "int32", "complaint_type_name": "string"},
    "property": {"property_id": "int32", "geographic_id": "int64",
                 "property_address": "string", "apartment_number": "string",
                 "year_built": "int32", "gross_sqft": "decimal128(10, 2)",
                 "land_sqft": "decimal128(10, 2)", "residential_units": "int32",
                 "commercial_units": "int32"},
    "sale": {"sale_id": "int32", "property_id": "int32",
             "sale_price": "decimal128(12, 2)", "sale_date": "date32[day]"},
}

# what each corner request must show in its response
CORNERS = {
    "top5_plus_other": lambda b: len(b["chart"]) == 6 and b["chart"][-1]["bucket"] == "Other",
    "gap_fill": lambda b: any(m["count"] == 0 for m in b),
    "zero_sales": lambda b: b["sales_stats"][0]["num_sales"] == 0 and b["sales"] == [],
    "unknown_bbl": lambda b: b is None,
    "malformed_bbl": lambda b: b is None,
}


def _connect(data, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    return con


def _same(a, b):
    """Values equal, numbers to 1e-9 relative."""
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def _bbl(s):
    parts = s.split("-")
    if len(parts) != 3:
        return None
    try:
        return tuple(int(p.strip()) for p in parts)
    except ValueError:
        return None


class DashboardOracle:
    def __init__(self, data):
        self.con = _connect(data, ["geographic_area", "service_request",
                                   "complaint_type", "sale", "property"])

    def q(self, sql, *params):
        return self.con.execute(sql, list(params)).fetchall()

    def geo_id(self, key):
        rows = self.q("SELECT geographic_id FROM geographic_area WHERE "
                      "borough_code = ? AND block_code = ? AND lot_code = ?", *key)
        return rows[0][0] if rows else None

    @staticmethod
    def window_sql(col, start, end):
        w = []
        if start:
            w.append(f"{col} >= DATE '{start}'")
        if end:
            w.append(f"{col} < DATE '{end}' + INTERVAL 1 DAY")
        return " AND ".join(w) or "TRUE"

    def by_type(self, gid, start, end):
        rows = self.q(
            "SELECT coalesce(complaint_type_name, 'Unknown') AS n, count(*), "
            "sum(CASE WHEN status IN ('Open','Pending','In Progress') THEN 1 ELSE 0 END) "
            "FROM service_request LEFT JOIN complaint_type USING (complaint_type_id) "
            f"WHERE geographic_id = ? AND {self.window_sql('created_date', start, end)} "
            "GROUP BY 1 ORDER BY 2 DESC, 1", gid)
        return [{"complaint_type_name": n, "total_count": t, "active_count": a}
                for n, t, a in rows]

    def listing(self, gid, start, end):
        rows = self.q(
            "SELECT property_address, apartment_number, sale_price, sale_date "
            "FROM sale JOIN property USING (property_id) "
            f"WHERE geographic_id = ? AND {self.window_sql('sale_date', start, end)} "
            "ORDER BY sale_date DESC, sale_price DESC LIMIT 10", gid)
        return [{"property_address": a, "apartment_number": p,
                 "sale_price": float(s), "sale_date": str(d)} for a, p, s, d in rows]

    def dashboard(self, gid, start, end, saved, bbl):
        (tot, act), = self.q(
            "SELECT count(*), coalesce(sum(CASE WHEN status IN "
            "('Open','Pending','In Progress') THEN 1 ELSE 0 END), 0) "
            f"FROM service_request WHERE geographic_id = ? AND "
            f"{self.window_sql('created_date', start, end)}", gid)
        types = self.by_type(gid, start, end)
        chart = [{"bucket": t["complaint_type_name"], "total_count": t["total_count"]}
                 for t in types[:5]]
        if len(types) > 5:
            chart.append({"bucket": "Other",
                          "total_count": sum(t["total_count"] for t in types[5:])})
        (med, lo, hi, n), = self.q(
            "SELECT coalesce(quantile_cont(CAST(round(sale_price * 100) AS DOUBLE), 0.5) / 100.0, 0.0), "
            "coalesce(round(min(sale_price), 2), 0.0), "
            "coalesce(round(max(sale_price), 2), 0.0), count(*) "
            "FROM sale JOIN property USING (property_id) "
            f"WHERE geographic_id = ? AND {self.window_sql('sale_date', start, end)}", gid)
        return {"bbl": bbl, "geographic_id": gid, "is_bookmarked": bbl in saved,
                "totals": [{"total_count": tot, "active_count": act}],
                "complaint_types": types, "chart": chart,
                "sales": self.listing(gid, start, end),
                "sales_stats": [{"median_price": float(med), "min_price": float(lo),
                                 "max_price": float(hi), "num_sales": n}]}

    def trend(self, gid, start, end, kind):
        months = [r[0] for r in self.q(
            "SELECT strftime(m, '%Y-%m') FROM generate_series("
            f"date_trunc('month', DATE '{start}'), date_trunc('month', DATE '{end}'), "
            "INTERVAL 1 MONTH) t(m) ORDER BY 1")]
        if kind == "sales":
            agg = {m: (float(med), c) for m, med, c in self.q(
                "SELECT strftime(sale_date, '%Y-%m'), "
                "quantile_cont(CAST(round(sale_price * 100) AS DOUBLE), 0.5) / 100.0, count(*) "
                "FROM sale JOIN property USING (property_id) "
                f"WHERE geographic_id = ? AND {self.window_sql('sale_date', start, end)} "
                "GROUP BY 1", gid)}
            return [{"month": m, "median_price": agg[m][0] if m in agg else None,
                     "count": agg[m][1] if m in agg else 0} for m in months]
        agg = dict(self.q(
            "SELECT strftime(created_date, '%Y-%m'), count(*) FROM service_request "
            f"WHERE geographic_id = ? AND {self.window_sql('created_date', start, end)} "
            "GROUP BY 1", gid))
        return [{"month": m, "count": agg.get(m, 0)} for m in months]

    def per_key(self, gids, start, end):
        if not gids:
            return []
        ids = ",".join(str(g) for g in gids)
        return [{"geographic_id": g, "total_count": t, "active_count": a}
                for g, t, a in self.q(
                    "SELECT geographic_id, count(*), sum(CASE WHEN status IN "
                    "('Open','Pending','In Progress') THEN 1 ELSE 0 END) "
                    f"FROM service_request WHERE geographic_id IN ({ids}) AND "
                    f"{self.window_sql('created_date', start, end)} GROUP BY 1 ORDER BY 1")]

    def expect(self, op, saved):
        """(status, body) the reference semantics give for this request,
        given the client's bookmark list once the request is served; body
        is parsed JSON, CSV rows, or None when only the status counts."""
        url = urlsplit(op["path"])
        qs = {k: v[0] for k, v in parse_qs(url.query).items()}
        start = qs.get("start_date", "2024-01-01")
        end = qs.get("end_date", "2024-12-31")
        parts = url.path.strip("/").split("/", 1)
        route, arg = parts[0], (parts[1] if len(parts) > 1 else "")
        if route in ("analytics", "trends", "export"):
            key = _bbl(arg)
            if key is None:
                return 400, None
            gid = self.geo_id(key)
            if gid is None:
                return 404, None
            if route == "analytics":
                return 200, self.dashboard(gid, start, end, saved, arg)
            if route == "trends":
                return 200, self.trend(gid, start, end, qs.get("type", "service_requests"))
            if qs.get("type") == "sales":
                rows = [["Address", "Sale Price", "Sale Date"]] + [
                    [r["property_address"], r["sale_price"], r["sale_date"]]
                    for r in self.listing(gid, start, end)]
            else:
                rows = [["Complaint Type", "Total Count", "Active Count"]] + [
                    [r["complaint_type_name"], r["total_count"], r["active_count"]]
                    for r in self.by_type(gid, start, end)]
            return 200, rows
        if route == "compare":
            gids = sorted({g for g in (self.geo_id(k) for k in
                           (_bbl(qs.get("bbl1", "")), _bbl(qs.get("bbl2", "")))
                           if k is not None) if g is not None})
            return 200, self.per_key(gids, start, end)
        if route == "bookmark":
            return 200, {"status": "success",
                         "action": "added" if arg in saved else "removed", "bbl": arg}
        if route == "bookmarks":
            gids = [g for g in (self.geo_id(k) for k in map(_bbl, saved)
                                if k is not None) if g is not None]
            return 200, {"bookmarks": saved,
                         "summaries": self.per_key(sorted(set(gids)), None, None)}
        return 404, None


def _csv_rows(body):
    """CSV lines, numeric cells as numbers."""
    def cell(x):
        try:
            return float(x)
        except ValueError:
            return x
    rows = list(csv.reader(io.StringIO(body)))
    return rows[:1] + [[cell(x) for x in r] for r in rows[1:]]


def check_schema(data):
    import pyarrow.parquet as pq
    failures = []
    for table, cols in SCHEMA.items():
        got = {f.name: str(f.type) for f in
               pq.read_schema(os.path.join(data, table + ".parquet"))}
        if got != cols:
            failures.append(f"{table}: columns {got} are not schema.sql's {cols}")
    return failures


def bookmark_lists(ops):
    """op id -> the client's bookmark list once that request is served.
    Each client's session is replayed here with the reference's toggle
    (server.py:548-552: remove if present, else append), independently of
    the engine; a client sends one request at a time, so its requests'
    start order is the order the server applied them."""
    saved, out = {}, {}
    for op in sorted(ops, key=lambda o: o["start"]):
        mine = saved.setdefault(op["client"], [])
        if op["name"] == "bookmark" and op["status"] == 200:
            key = op["path"][len("/bookmark/"):]
            if key in mine:
                mine.remove(key)
            else:
                mine.append(key)
        out[op["id"]] = list(mine)
    return out


def check_dashboard(data, result, seed, fault=False):
    ops = [o for o in result["ops"] if o["kind"] == "request"]
    saved = bookmark_lists(ops)
    rnd = random.Random(seed)
    corners = [o for o in ops if o.get("corner")]
    rest = [o for o in ops if not o.get("corner")]
    checked = corners + rnd.sample(rest, min(CHECKED_SAMPLE, len(rest)))
    oracle = DashboardOracle(data)
    failures = check_schema(data)
    planted = False
    for op in checked:
        status, body = oracle.expect(op, saved[op["id"]])
        if fault and not planted and status == 200 and op["name"] == "analytics":
            body["totals"][0]["total_count"] += 1
            planted = True
        if op["status"] != status:
            failures.append(f"{op['id']} {op['path']}: status {op['status']}, expected {status}")
            continue
        if body is None:
            continue
        got = _csv_rows(op["body"]) if op["name"] == "export" else json.loads(op["body"])
        if not _same(got, body):
            failures.append(f"{op['id']} {op['path']}: body differs from DuckDB")
    for op in corners:
        body = json.loads(op["body"]) if op["status"] == 200 else None
        if not CORNERS[op["corner"]](body):
            failures.append(f"{op['id']}: the {op['corner']} corner does not show")
    corner_names = sorted(o["corner"] for o in corners)
    return failures, {"checked": len(checked), "corners": corner_names}
