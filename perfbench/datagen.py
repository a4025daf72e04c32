"""Input generation for the NRT warehouse benchmark.

Two kinds of input are made here, both deterministic:

* The warehouse tables (region, nation, customer, supplier, part, orders,
  lineitem) in the TPC-H-like shape the engine's star schema is built
  from, at a given scale factor (0.01: 15,000 orders and 60,000 line
  items), over 1995-01-01 .. 2001-08-01. They do not depend on the workload seed, so
  every run of every seed queries and joins against the same star.
* The transaction feed: every line item joined to its order, rendered
  as one transaction CSV line in order-date order. The line's position
  in that order is its Order_ID, so ids are unique by construction
  ((l_orderkey, l_linenumber) is not unique in this data, as in the
  engine's own test data). The workload
  seed only picks which earlier lines each file re-delivers.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "2"
N_NATIONS = 25
FIRST_DAY = np.datetime64("1995-01-01")
N_DAYS = 2_404  # last order date 2001-08-01
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["large", "hot", "blue", "small", "red", "green", "dark", "light"]
NOUN = ["ring", "bolt", "nut", "gear", "valve", "pipe", "plate", "spring"]
HEADER = "order_id,order_date_raw,product_id,quantity_ordered,customer_id,time_id"


def _ts(days):
    return pa.array((FIRST_DAY + days.astype("timedelta64[D]")).astype("datetime64[us]"),
                    type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def sizes(sf):
    """Row counts at scale factor sf, in TPC-H proportions."""
    n_orders = int(1_500_000 * sf)
    return {"orders": n_orders, "lines": 4 * n_orders, "customers": int(150_000 * sf),
            "suppliers": max(20, int(10_000 * sf)), "parts": int(200_000 * sf)}


def tables(out_dir, sf):
    """Writes the warehouse tables as one parquet file each; returns the
    rendered transaction feed and each feed line's revenue in cents."""
    n = sizes(sf)
    N_ORDERS, N_LINES, N_CUSTOMERS = n["orders"], n["lines"], n["customers"]
    N_SUPPLIERS, N_PARTS = n["suppliers"], n["parts"]
    rng = np.random.default_rng(20_240_101)
    os.makedirs(out_dir, exist_ok=True)
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array(np.arange(N_NATIONS, dtype=np.int32) % 5)})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(N_CUSTOMERS, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, N_CUSTOMERS, dtype=np.int32)),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, N_CUSTOMERS) / 100.0),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMERS)]})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, N_SUPPLIERS, dtype=np.int32)),
        "s_acctbal": pa.array(rng.integers(-99_999, 999_999, N_SUPPLIERS) / 100.0)})
    part_cents = 90_000 + (np.arange(N_PARTS) * 10) % 120_001
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(N_PARTS, dtype=np.int64)),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PARTS), rng.integers(0, 8, N_PARTS))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PARTS)],
        "p_type": [SEGMENTS[i] for i in rng.integers(0, 5, N_PARTS)],
        "p_size": pa.array(rng.integers(1, 51, N_PARTS, dtype=np.int32)),
        "p_retailprice": pa.array(part_cents / 100.0)})
    o_date = rng.integers(0, N_DAYS + 1, N_ORDERS)
    o_cust = rng.integers(0, N_CUSTOMERS, N_ORDERS)
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(o_cust.astype(np.int64)),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, N_ORDERS) / 100.0),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                            for i in rng.integers(0, 5, N_ORDERS)]})
    l_order = rng.integers(0, N_ORDERS, N_LINES)
    l_part = rng.integers(0, N_PARTS, N_LINES)
    l_supp = (l_part + rng.integers(0, 4, N_LINES) * (N_SUPPLIERS // 4)) % N_SUPPLIERS
    l_qty = rng.integers(1, 51, N_LINES)
    l_disc = rng.integers(0, 11, N_LINES)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(l_order.astype(np.int64)),
        "l_partkey": pa.array(l_part.astype(np.int64)),
        "l_suppkey": pa.array(l_supp.astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINES, dtype=np.int32)),
        "l_quantity": pa.array(l_qty.astype(np.float64)),
        "l_extendedprice": pa.array(l_qty * part_cents[l_part] / 100.0),
        "l_discount": pa.array(l_disc / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINES) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINES)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, N_LINES)],
        "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, N_LINES))})
    # The transaction feed: one line per line item, in order-date order.
    order = np.argsort(o_date[l_order], kind="stable")
    days = o_date[l_order][order]
    seq = np.arange(N_LINES)
    dates = (FIRST_DAY + days.astype("timedelta64[D]")).astype(str)
    hours, minutes = (seq * 7) % 24, (seq * 13) % 60
    lines = [f"{i},{d} {h}:{m:02d}:00,{p},{q},{c},{d.replace('-', '')}"
             for i, d, h, m, p, q, c in zip(
                 seq, dates, hours, minutes, l_part[order], l_qty[order], o_cust[l_order][order])]
    # revenue = round(qty * price, 2) in cents; exact because price is whole cents
    revenue_cents = l_qty[order] * part_cents[l_part[order]]
    return lines, revenue_cents


def ensure_tables(work_dir, sf):
    """Generates the tables and the rendered feed once per work dir and
    scale (the output is seed-independent); later calls reuse them."""
    out = os.path.join(work_dir, f"data-v{GEN_VERSION}-sf{sf}")
    done = os.path.join(out, "_SUCCESS")
    if not os.path.exists(done):
        lines, revenue_cents = tables(os.path.join(out, "tables"), sf)
        with open(os.path.join(out, "feed.csv"), "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
        np.save(os.path.join(out, "revenue_cents.npy"), revenue_cents)
        open(done, "w").close()
    return out


def feed_files(data_dir, out_dir, seed, n_files, lines_per_file, dup_share, dup_lookback):
    """Renders the first n_files * lines_per_file feed lines as n_files CSV
    files under out_dir. Every file after the first also re-delivers a
    seeded share of lines from the previous dup_lookback files, at seeded
    positions, so both the in-stream dedup and the sink's anti-join see
    duplicates. Returns the per-file plan: name, first and last new id,
    and the number of lines written."""
    with open(os.path.join(data_dir, "feed.csv")) as f:
        feed = f.read().splitlines()
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    plan = []
    n_dup = int(round(lines_per_file * dup_share))
    for k in range(n_files):
        lo, hi = k * lines_per_file, (k + 1) * lines_per_file
        body = feed[lo:hi]
        if k > 0 and n_dup > 0:
            src_lo = max(0, k - dup_lookback) * lines_per_file
            picks = rng.choice(np.arange(src_lo, lo), size=n_dup, replace=False)
            at = np.sort(rng.integers(0, len(body) + 1, n_dup))
            for shift, (pos, src) in enumerate(zip(at, picks)):
                body.insert(int(pos) + shift, feed[int(src)])
        name = f"tx-{k:05d}.csv"
        with open(os.path.join(out_dir, name), "w") as f:
            f.write(HEADER + "\n" + "\n".join(body) + "\n")
        plan.append({"name": name, "first_id": lo, "last_id": hi - 1, "lines": len(body)})
    return plan


def expected_ingest(data_dir, n_new):
    """The batch recomputation of the sink's first-wins rule over the
    first n_new feed lines: every id appears once, and re-deliveries are
    byte-identical copies, so the expected table holds ids 0..n_new-1
    with their own revenue."""
    revenue = np.load(os.path.join(data_dir, "revenue_cents.npy"))
    return {"rows": int(n_new), "min_id": 0, "max_id": int(n_new) - 1,
            "revenue_cents": int(revenue[:n_new].sum())}
