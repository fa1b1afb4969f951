"""Seeded input generators for the benchmark.

Three kinds of input, each a pure function of ``seed`` and a size:

- ``star_tables``: the TPC-H-ish star (region, nation, customer, supplier,
  part, orders, lineitem) that the registered dashboard queries read;
- ``retail_csv``: an Online-Retail CSV derived from the star tables
  (orders -> InvoiceNo, part -> StockCode/Description, customer ->
  CustomerID, nation -> Country), plus the dirty rows of the raw-sales
  fixture: blank invoices, null descriptions, null tokens, non-positive
  quantities, negative prices, outliers, exact duplicates and
  ``C``-prefixed returns;
- ``cdc_batches``: Debezium change files for a customer dimension: a
  snapshot, then change batches with out-of-order lines, deletes, no-op
  upserts, repeated keys and late events.

Every writer produces byte-identical files for the same seed and size, so
the engine sees only files and a run is reproducible from its seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
# nation -> Online-Retail country; nation 0 is the dominant market
COUNTRIES = [
    "United Kingdom", "France", "Germany", "EIRE", "Spain", "Netherlands",
    "Belgium", "Switzerland", "Portugal", "Australia", "Norway", "Italy",
    "Channel Islands", "Finland", "Cyprus", "Sweden", "Austria", "Denmark",
    "Japan", "Poland", "USA", "Israel", "Singapore", "Iceland", "Canada",
]
# alias spellings the raw feed uses for two markets
COUNTRY_ALIASES = {0: ["UK", "GB"], 20: ["United States"]}
NULL_TOKENS = ["nan", "NULL", "N/A", "None"]

EPOCH = dt.datetime(1970, 1, 1)
ORDER_DAY0 = (dt.datetime(1995, 1, 1) - EPOCH).days
ORDER_DAYS = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
SHIP_DAY0 = (dt.datetime(1995, 1, 2) - EPOCH).days
SHIP_DAYS = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
CDC_T0_MS = 1_700_000_000_000  # snapshot time; late events predate it
FILE_MTIME0 = 1_700_000_000  # stream files get strictly increasing mtimes


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(tag))])


def _days_to_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def star_sizes(n_orders: int) -> dict[str, int]:
    """Row counts keep the proportions of the repository's sf0.01 test data."""
    return {
        "customer": max(50, n_orders // 10),
        "supplier": max(10, n_orders // 150),
        "part": max(64, n_orders * 2 // 15),
        "orders": n_orders,
        "lineitem": 4 * n_orders,
    }


def star_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    n = star_sizes(n_orders)
    r = _rng(seed, "star")
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    # nation 0 holds about half the customers (the retail data's home market)
    nation_p = np.full(25, 0.5 / 24)
    nation_p[0] = 0.5
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.choice(25, nc, p=nation_p), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2),
    })
    np_ = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(r.integers(0, 8, np_), r.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, np_)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, np_)],
        "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, no)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days_to_us(ORDER_DAY0 + r.integers(0, ORDER_DAYS + 1, no)),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, nl)],
        "l_shipdate": _days_to_us(SHIP_DAY0 + r.integers(0, SHIP_DAYS + 1, nl)),
    })
    return tables


def write_star(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _csv_field(value: str | None) -> str:
    if value is None:
        return ""
    if any(c in value for c in ',"\n'):
        return '"' + value.replace('"', '""') + '"'
    return value


def retail_csv(star: dict[str, pa.Table], seed: int) -> str:
    """Online-Retail CSV text: one line per lineitem (ordered by order key),
    then the fixture's dirty rows mixed in at fixed rates."""
    r = _rng(seed, "retail")
    li = star["lineitem"].sort_by([("l_orderkey", "ascending")]).to_pydict()
    orders = star["orders"].to_pydict()
    cust = star["customer"].to_pydict()
    part = star["part"].to_pydict()
    n_cust, n_part, n_orders = len(cust["c_custkey"]), len(part["p_partkey"]), len(orders["o_orderkey"])

    guest = r.random(n_cust) < 0.15  # ~15% of customers check out as guests
    part_price = np.round(np.exp(r.normal(1.2, 0.9, n_part)).clip(0.5, 100.0), 2)
    part_suffix = r.choice(["", "", "", "A", "B", "C"], n_part)
    order_minute = r.integers(6 * 60, 20 * 60, n_orders)
    order_return = r.random(n_orders) < 0.02
    order_date = orders["o_orderdate"]

    lines = ["InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country"]
    n = len(li["l_orderkey"])
    u = r.random((n, 8))
    seen: set[tuple[int, int]] = set()
    for i in range(n):
        ok, pk = li["l_orderkey"][i], li["l_partkey"][i]
        if (ok, pk) in seen:
            continue  # one line per (invoice, stock code), as silver keys it
        seen.add((ok, pk))
        ck = orders["o_custkey"][ok]
        invoice = str(536365 + ok)
        qty = int(li["l_quantity"][i])
        if order_return[ok]:
            invoice, qty = "C" + invoice, -qty
        stock = f"{20000 + pk}{part_suffix[pk]}"
        desc = part["p_name"][pk].upper()
        price = float(part_price[pk])
        cid = None if guest[ck] else str(12346 + ck)
        nation = cust["c_nationkey"][ck]
        country = COUNTRIES[nation]
        d, m = order_date[ok], int(order_minute[ok])
        ts = f"{d.month}/{d.day}/{d.year} {m // 60}:{m % 60:02d}"
        x = u[i]
        if x[0] < 0.005:
            invoice = None  # blank invoice: silver rejects it
        if x[1] < 0.01:
            desc = None
        elif x[1] > 0.997:
            desc = f"{desc} - RETURN, REFUND"
        elif x[1] > 0.994:
            desc = f"{desc} CANCELLED"
        if x[2] < 0.02:
            qty = -int(x[3] * 10)  # non-positive quantity: silver rejects it
        elif x[2] > 0.998:
            qty = 1000 + int(x[3] * 5000)  # outlier
        if x[4] < 0.01:
            price = -round(price, 2)
        elif x[4] > 0.998:
            price = round(500.0 + x[3] * 1500.0, 2)
        if x[5] < 0.01:
            cid = NULL_TOKENS[int(x[6] * 4)]
        if nation in COUNTRY_ALIASES and x[6] < 0.05:
            aliases = COUNTRY_ALIASES[nation]
            country = aliases[int(x[3] * len(aliases))]
        line = ",".join([
            _csv_field(invoice), stock, _csv_field(desc), str(qty), ts,
            f"{price:.2f}", _csv_field(cid), country,
        ])
        lines.append(line)
        if x[7] < 0.01:
            lines.append(line)  # exact duplicate of the business key
    return "\n".join(lines) + "\n"


def write_text(text: str, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = text.encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


CDC_PAYLOAD_FIELDS = ("customer_id", "segment", "nation_key", "acctbal")


def _envelope(op: str, row: dict, ts_ms: int, lsn: int) -> str:
    return json.dumps(
        {
            "op": op,
            "before": row if op == "d" else None,
            "after": None if op == "d" else row,
            "ts_ms": ts_ms,
            "source": {"table": "customer", "lsn": lsn},
        },
        separators=(",", ":"),
    )


def cdc_batches(seed: int, n_keys: int, n_batches: int, batch_events: int) -> list[list[str]]:
    """Snapshot of ``n_keys`` customers (op ``r``), then ``n_batches``
    change batches of ``batch_events`` envelopes each.

    Event times rise from batch to batch and are unique per event; within a
    file the lines are shuffled. Late events carry times before the snapshot
    (every late key is a snapshot key), so they lose to state under any
    batching. About: 55% updates, 10% no-op upserts, 8% deletes, 9% creates
    or re-creates, 10% repeats of a key already in the batch, 5% late
    events, 3% deletes of keys that are not live."""
    r = _rng(seed, "cdc")
    state: dict[int, dict] = {}
    lsn = 0
    snapshot = []
    for k in range(n_keys):
        row = {
            "customer_id": k,
            "segment": SEGMENTS[int(r.integers(0, 5))],
            "nation_key": int(r.integers(0, 25)),
            "acctbal": round(float(r.uniform(-999.99, 9999.99)), 2),
        }
        state[k] = row
        lsn += 1
        snapshot.append(_envelope("r", row, CDC_T0_MS + k, lsn))
    batches = [snapshot]
    next_key = n_keys
    dead: list[int] = []
    late_ts = CDC_T0_MS - 1
    for b in range(n_batches):
        ts = CDC_T0_MS + 10_000_000 * (b + 1)
        events: list[str] = []
        seen: list[int] = []
        live = sorted(state)
        for _ in range(batch_events):
            ts += 7
            lsn += 1
            x = r.random()
            if x < 0.05:  # late: older than every snapshot row
                k = int(r.integers(0, n_keys))
                row = {**(state.get(k) or {"customer_id": k, "segment": SEGMENTS[0],
                                           "nation_key": 0, "acctbal": 0.0}),
                       "acctbal": round(float(r.uniform(0, 100)), 2)}
                events.append(_envelope("u", row, late_ts, lsn))
                late_ts -= 1
                continue
            if x < 0.15 and seen:  # repeat a key already in this batch
                k = seen[int(r.integers(0, len(seen)))]
                op = "u" if k in state else "c"
                base = state.get(k) or {"customer_id": k, "segment": SEGMENTS[1],
                                        "nation_key": 1, "acctbal": 0.0}
                row = {**base, "acctbal": round(float(r.uniform(-999.99, 9999.99)), 2)}
                state[k] = row
                events.append(_envelope(op, row, ts, lsn))
                continue
            if x < 0.24 or not live:  # create, or re-create a deleted key
                if dead and r.random() < 0.4:
                    k = dead.pop(int(r.integers(0, len(dead))))
                else:
                    k, next_key = next_key, next_key + 1
                row = {
                    "customer_id": k,
                    "segment": SEGMENTS[int(r.integers(0, 5))],
                    "nation_key": int(r.integers(0, 25)),
                    "acctbal": round(float(r.uniform(-999.99, 9999.99)), 2),
                }
                state[k] = row
                events.append(_envelope("c", row, ts, lsn))
            elif x < 0.32:  # delete a live key
                k = live[int(r.integers(0, len(live)))]
                row = state.pop(k, None)
                if row is None:  # already deleted in this batch
                    row = {"customer_id": k, "segment": None, "nation_key": None, "acctbal": None}
                else:
                    dead.append(k)
                events.append(_envelope("d", row, ts, lsn))
            elif x < 0.35:  # delete of a key that is not live: a no-op
                k = next_key + 1_000_000
                row = {"customer_id": k, "segment": None, "nation_key": None, "acctbal": None}
                events.append(_envelope("d", row, ts, lsn))
            elif x < 0.45:  # no-op upsert: same values as the key's state
                k = live[int(r.integers(0, len(live)))]
                if k not in state:
                    continue
                events.append(_envelope("u", state[k], ts, lsn))
            else:  # change of tracked attributes
                k = live[int(r.integers(0, len(live)))]
                if k not in state:
                    continue
                row = dict(state[k])
                if r.random() < 0.7:
                    row["acctbal"] = round(float(r.uniform(-999.99, 9999.99)), 2)
                else:
                    row["segment"] = SEGMENTS[int(r.integers(0, 5))]
                state[k] = row
                events.append(_envelope("u", row, ts, lsn))
            seen.append(k)
        order = r.permutation(len(events))  # out-of-order lines in the file
        batches.append([events[i] for i in order])
    return batches


def write_cdc_files(batches: list[list[str]], out_dir: str) -> int:
    """One JSON-lines file per batch, with strictly increasing modification
    times so a file stream takes them in batch order. Returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i, lines in enumerate(batches):
        path = os.path.join(out_dir, f"batch_{i:05d}.json")
        total += write_text("\n".join(lines) + "\n", path)
        os.utime(path, (FILE_MTIME0 + i, FILE_MTIME0 + i))
    return total
