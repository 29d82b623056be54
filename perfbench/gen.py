"""Seeded input generator for the benchmark.

Every file is a pure function of (workload, seed): the same seed writes
byte-identical parquet and the same request stream. Column types follow
the reference's schema.sql (FIXTURES.md section B); check.py verifies
them on every run.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import os
import sys
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# dashboard sizes: the sf0.01 row counts (README.md says why not sf0.1)
N_GEO = 5_000
N_SR = 60_000
N_PROPERTY = 5_000
N_SALE = 15_000
N_TYPES = 20
DATE0 = dt.date(2022, 1, 1)
N_DAYS = (dt.date(2024, 12, 31) - DATE0).days + 1

STATUSES = ["Open", "Pending", "In Progress", "Closed", "Cancelled"]
BOROUGHS = ["Manhattan", "Bronx", "Brooklyn", "Queens", "Staten Island"]
AGENCIES = ["NYPD", "HPD", "DOT", "DSNY", "DEP", "DOB", "DPR", "DOHMH"]
STREETS = ["Main St", "Ocean Ave", "Broadway", "Atlantic Ave", "Park Pl",
           "Grand St", "Bedford Ave", "Queens Blvd", "Court St", "Hylan Blvd"]

# The request stream is a sequence of units; a client sends one unit's
# requests in order. The one sourced unit is the page view: the dashboard
# page (GET /analytics/<bbl>) and the two trend charts the rendered page
# fetches (GET /trends/<bbl>, service requests and sales), with the same
# key and window (SURVEY.md section 3.1 step 5: the reference's
# analytics.html lines 368 and 401). A page view for an unknown or
# malformed key is the page request alone: it fails, so nothing renders.
#
# ASSUMED, with no traffic source in the repo: how often each unit comes.
# One stratum holds six units in seeded order: three page views, one
# followed by a CSV export and one by a bookmark toggle of the same key
# and window (both are buttons on the page); one page view for an unknown
# or malformed key; one compare of two keys; one view of the bookmark
# list. Every whole stratum has the same mix.
STRATUM = ["view_export", "view_bookmark", "view", "view_bad", "compare",
           "bookmarks"]
N_REQUESTS = 4000

# ASSUMED as well: key popularity is Zipf with weight 1/(rank + 10)^1.1,
# and a window spans 3 to 12 whole months inside the data's range.
def zipf_ranks(rng, n_items, size, s=1.1, offset=10.0):
    """Ranks 0..n_items-1 drawn with weight 1/(rank+offset)^s."""
    w = 1.0 / (np.arange(n_items) + offset) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def write(table, out_dir, name):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def dates(days):
    """Days since DATE0 (an int array, or an int Arrow array with nulls)."""
    epoch = pc.add(pa.array(days, pa.int32()), -day_of(dt.date(1970, 1, 1)))
    return epoch.cast(pa.int32()).cast(pa.date32())


def addresses(rng, n):
    house = pa.array(rng.integers(1, 999, n)).cast(pa.string())
    street = pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(STREETS), n), pa.int32()), STREETS).cast(pa.string())
    return pc.binary_join_element_wise(house, street, " ")


def day_of(d):
    return (d - DATE0).days


def bbl(b, bl, lt):
    return f"{b}-{bl:05d}-{lt:04d}"


def gen_dashboard(rng, out):
    # geographic_area: unique (borough, block, lot); blocks stay below
    # 20000 so block 99999 is never a real key
    codes = rng.choice(5 * 20_000 * 200, size=N_GEO, replace=False)
    borough = (codes // (20_000 * 200) + 1).astype("int32")
    block = (codes // 200 % 20_000 + 1).astype("int32")
    lot = (codes % 200 + 1).astype("int32")
    geo_id = np.arange(1, N_GEO + 1, dtype="int64")
    write(pa.table({
        "geographic_id": pa.array(geo_id, pa.int64()),
        "borough_name": pa.array([BOROUGHS[b - 1] for b in borough]),
        "borough_code": pa.array(borough, pa.int32()),
        "block_code": pa.array(block, pa.int32()),
        "lot_code": pa.array(lot, pa.int32()),
    }), out, "geographic_area")
    write(pa.table({
        "complaint_type_id": pa.array(np.arange(1, N_TYPES + 1), pa.int32()),
        "complaint_type_name": pa.array([f"Complaint {i:02d}"
                                         for i in range(1, N_TYPES + 1)]),
    }), out, "complaint_type")

    # popularity order of keys: rank r -> geographic_id perm[r]
    perm = rng.permutation(geo_id)
    hot_key = int(perm[0])           # thousands of requests, all 20 types
    gap_key = int(perm[40])          # March 2024 left empty (gap fill)
    nosale_key = int(perm[5])        # requests but zero sales

    sr_geo = perm[zipf_ranks(rng, N_GEO, N_SR)]
    sr_type = (zipf_ranks(rng, N_TYPES, N_SR, s=0.8, offset=2.0) + 1)
    sr_day = rng.integers(0, N_DAYS, N_SR)
    mar0, apr0 = day_of(dt.date(2024, 3, 1)), day_of(dt.date(2024, 4, 1))
    in_gap = (sr_geo == gap_key) & (sr_day >= mar0) & (sr_day < apr0)
    sr_day[in_gap] += 31               # move the gap key's March into April
    sr_status = rng.choice(len(STATUSES), N_SR, p=[.2, .1, .1, .5, .1])
    closed = pa.array(sr_day + rng.integers(0, 60, N_SR), mask=sr_status < 3)
    write(pa.table({
        "service_request_id": pa.array(np.arange(1, N_SR + 1), pa.int32()),
        "geographic_id": pa.array(sr_geo, pa.int64()),
        "agency_code": pa.array(np.array(AGENCIES)[
            rng.integers(0, len(AGENCIES), N_SR)]),
        "complaint_type_id": pa.array(sr_type, pa.int32()),
        "descriptor_id": pa.array(rng.integers(1, 200, N_SR), pa.int32()),
        "incident_address": addresses(rng, N_SR),
        "created_date": dates(sr_day),
        "closed_date": dates(closed),
        "status": pa.array(np.array(STATUSES)[sr_status]),
    }), out, "service_request")

    prop_geo = perm[zipf_ranks(rng, N_GEO, N_PROPERTY, s=0.9)]
    prop_geo[prop_geo == nosale_key] = hot_key
    sqft = rng.integers(40_000, 900_000, N_PROPERTY)
    write(pa.table({
        "property_id": pa.array(np.arange(1, N_PROPERTY + 1), pa.int32()),
        "geographic_id": pa.array(prop_geo, pa.int64()),
        "property_address": addresses(rng, N_PROPERTY),
        "apartment_number": pa.array(
            [("" if a == 0 else f"{a}{'ABCD'[a % 4]}")
             for a in rng.integers(0, 30, N_PROPERTY)]),
        "year_built": pa.array(rng.integers(1880, 2024, N_PROPERTY), pa.int32()),
        "gross_sqft": pa.array([Decimal(int(v)).scaleb(-2) for v in sqft],
                               pa.decimal128(10, 2)),
        "land_sqft": pa.array([Decimal(int(v)).scaleb(-2) for v in sqft // 2],
                              pa.decimal128(10, 2)),
        "residential_units": pa.array(rng.integers(0, 40, N_PROPERTY), pa.int32()),
        "commercial_units": pa.array(rng.integers(0, 4, N_PROPERTY), pa.int32()),
    }), out, "property")

    cents = rng.integers(10_000_000, 300_000_000, N_SALE)
    write(pa.table({
        "sale_id": pa.array(np.arange(1, N_SALE + 1), pa.int32()),
        "property_id": pa.array(rng.integers(1, N_PROPERTY + 1, N_SALE), pa.int32()),
        "sale_price": pa.array([Decimal(int(c)).scaleb(-2) for c in cents],
                               pa.decimal128(12, 2)),
        "sale_date": dates(rng.integers(0, N_DAYS, N_SALE)),
    }), out, "sale")

    # --- request stream: strata of STRATUM in seeded order ---
    bbls = {int(g): bbl(int(b), int(bl), int(lt))
            for g, b, bl, lt in zip(geo_id, borough, block, lot)}

    key_ranks = iter(zipf_ranks(rng, N_GEO, 4 * N_REQUESTS))

    def key():
        return bbls[int(perm[next(key_ranks)])]

    def window():
        m0 = int(rng.integers(0, 36 - 3))
        months = int(rng.integers(3, 13))
        m1 = min(35, m0 + months - 1)
        s = dt.date(2022 + m0 // 12, m0 % 12 + 1, 1)
        e_month = dt.date(2022 + m1 // 12, m1 % 12 + 1, 1)
        e = (e_month.replace(day=28) + dt.timedelta(days=4))
        e = e - dt.timedelta(days=e.day)
        return s.isoformat(), e.isoformat()

    def page_view(k, s, e):
        q = f"start_date={s}&end_date={e}"
        return [("analytics", "GET", f"/analytics/{k}?{q}"),
                ("trends", "GET", f"/trends/{k}?{q}&type=service_requests"),
                ("trends", "GET", f"/trends/{k}?{q}&type=sales")]

    def unit(kind):
        k, (s, e) = key(), window()
        if kind == "view":
            return page_view(k, s, e)
        if kind == "view_export":
            what = "sales" if rng.random() < 0.5 else "complaints"
            return page_view(k, s, e) + [
                ("export", "GET", f"/export/{k}?type={what}&start_date={s}&end_date={e}")]
        if kind == "view_bookmark":
            return page_view(k, s, e) + [("bookmark", "POST", f"/bookmark/{k}")]
        if kind == "view_bad":
            bad = (bbl(5, 99999, 9999) if rng.random() < 0.5
                   else f"{int(rng.integers(1, 6))}-x{int(rng.integers(1, 99))}-7")
            return [("analytics", "GET", f"/analytics/{bad}?start_date={s}&end_date={e}")]
        if kind == "compare":
            return [("compare", "GET", f"/compare?bbl1={k}&bbl2={key()}"
                                       f"&start_date={s}&end_date={e}")]
        return [("bookmarks", "GET", "/bookmarks")]

    # the corners lead the timed stream, one unit each, so every run
    # covers them
    corners = [
        ("top5_plus_other", "analytics",
         f"/analytics/{bbls[hot_key]}?start_date=2022-01-01&end_date=2024-12-31"),
        ("gap_fill", "trends",
         f"/trends/{bbls[gap_key]}?start_date=2024-01-01&end_date=2024-06-30"
         "&type=service_requests"),
        ("zero_sales", "analytics",
         f"/analytics/{bbls[nosale_key]}?start_date=2022-01-01&end_date=2024-12-31"),
        ("unknown_bbl", "analytics", f"/analytics/{bbl(5, 99999, 9999)}"),
        ("malformed_bbl", "analytics", "/analytics/1-abc-7"),
    ]
    # one line a request: phase, unit, route, method, path, corner
    lines = [("warmup", 0, *r, "") for kind in STRATUM for r in unit(kind)]
    units = [[(route, "GET", path, corner)] for corner, route, path in corners]
    n = sum(len(u) for u in units)
    while n < N_REQUESTS:
        for kind in rng.permutation(STRATUM):
            units.append([r + ("",) for r in unit(kind)])
            n += len(units[-1])
    lines += [("timed", i, *r) for i, u in enumerate(units) for r in u]
    with open(os.path.join(out, "requests.tsv"), "w") as f:
        for line in lines:
            f.write("\t".join(map(str, line)) + "\n")


def main(argv):
    workload, seed, out = argv[1], int(argv[2]), argv[3]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "dashboard":
        gen_dashboard(rng, out)
    # the lake workload draws its rows inside the JVM from the same seed
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
