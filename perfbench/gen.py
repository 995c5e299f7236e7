"""Seeded input generator for the copy-pipeline benchmark.

Every input the program sees is made here from one integer seed, with
numpy's PCG64 generator and pyarrow's parquet writer, so the same seed
gives byte-identical files. The tables follow the schemas of the repo's
TPC-H-shaped fixtures (``region`` .. ``lineitem``, ``events``,
``documents``); customer also carries ``c_address`` and ``c_phone`` so the
copy specs have address-like PII to anonymize. Two self-referencing
hierarchies are added:

* ``org_unit``: ``ORG_ROWS`` rows over ``ORG_DEPTH`` levels. Its explicit
  filter keeps about 11/12 of the rows, so the filtered key set stays above
  the 50,000-key ``driver_threshold`` of ``propagation.self_ref_closure``
  and the distributed fixpoint runs.
* ``team``: ``TEAM_ROWS`` rows over ``TEAM_DEPTH`` levels, below the
  threshold, so the driver-side BFS runs.

Keys start at a small seeded offset (``key_base``), in the manner of
``scripts/make_sf1.py``'s key offsets. The seeded filter constants are
returned beside the files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS = 2_000
SUPPLIERS = 200
PARTS = 2_000
ORDERS_PER_CUSTOMER = 10
MAX_LINES = 7
EVENTS = 10_000
EVENT_USERS = 400
DOCUMENTS = 1_500
ORG_ROWS = 60_000
ORG_DEPTH = 4
ORG_CODES = 12
TEAM_ROWS = 3_000
TEAM_DEPTH = 5
TEAM_CODES = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass"]
THINGS = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring"]
STREETS = ["Elm", "Oak", "Maple", "Cedar", "Pine", "Birch", "Walnut", "Lake"]
SUFFIXES = ["St", "Ave", "Rd", "Blvd", "Ln"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("key agg row scan slow fast table value part hash a the data window "
         "spark order column join small line customer query filter batch "
         "stream index merge sort group count").split()
LANGS = ["en", "de", "fr"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "org_unit", "team"]


def _str(values) -> pa.Array:
    return pa.array(values, type=pa.string())


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return _str(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(rng: np.random.Generator, start: dt.datetime, days: int, n: int,
                whole_days: bool) -> pa.Array:
    epoch_us = int(start.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    if whole_days:
        offs = rng.integers(0, days, n) * 86_400_000_000
    else:
        offs = rng.integers(0, days * 86_400_000_000, n)
    return pa.array(epoch_us + offs, type=pa.timestamp("us"))


def _hierarchy(rng: np.random.Generator, rows: int, depth: int, base: int, codes: int):
    """(ids, parents, levels, codes) of a forest with ``depth`` levels.
    Level sizes grow geometrically; the nodes of a level are dealt out
    evenly, in seeded order, as children of the level above and over the
    ``codes`` codes, so the rows a dropped code removes vary little from
    seed to seed. The rows are shuffled so children often precede their
    parents."""
    weights = 2.0 ** np.arange(depth)
    sizes = np.maximum(1, np.floor(rows * weights / weights.sum())).astype(int)
    sizes[-1] += rows - sizes.sum()
    ids = base + rng.permutation(rows).astype(np.int64)
    parents = np.full(rows, -1, dtype=np.int64)
    levels = np.zeros(rows, dtype=np.int32)
    code = np.zeros(rows, dtype=np.int32)
    start = 0
    for lvl, size in enumerate(sizes):
        if lvl:
            above = ids[start - sizes[lvl - 1]:start]
            parents[start:start + size] = above[rng.permutation(np.arange(size) % len(above))]
        levels[start:start + size] = lvl
        code[start:start + size] = rng.permutation(np.arange(size) % codes)
        start += size
    order = rng.permutation(rows)
    return ids[order], parents[order], levels[order], code[order]


def build(seed: int) -> tuple[dict[str, pa.Table], dict]:
    """All tables and the seeded filter constants for ``seed``."""
    rng = np.random.default_rng(seed)
    key_base = int(rng.integers(0, 25))

    region = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": _str(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": _str([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })

    ck = key_base + np.arange(CUSTOMERS, dtype=np.int64)
    acctbal = _money(rng, -999.99, 9999.99, CUSTOMERS)
    street_no = rng.integers(1, 9999, CUSTOMERS)
    street = np.asarray(STREETS, dtype=object)[rng.integers(0, len(STREETS), CUSTOMERS)]
    suffix = np.asarray(SUFFIXES, dtype=object)[rng.integers(0, len(SUFFIXES), CUSTOMERS)]
    phone = rng.integers(0, 10, (CUSTOMERS, 12))
    customer = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": _str([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS).astype(np.int32)),
        "c_acctbal": pa.array(acctbal),
        "c_mktsegment": _pick(rng, SEGMENTS, CUSTOMERS),
        "c_address": _str([f"{n} {s} {x}" for n, s, x in zip(street_no, street, suffix)]),
        "c_phone": _str(["%d%d-%d%d%d-%d%d%d-%d%d%d%d" % tuple(p) for p in phone]),
    })

    sk = key_base + np.arange(SUPPLIERS, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": _str([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, SUPPLIERS)),
    })

    pk = key_base + np.arange(PARTS, dtype=np.int64)
    color = np.asarray(COLORS, dtype=object)[rng.integers(0, len(COLORS), PARTS)]
    thing = np.asarray(THINGS, dtype=object)[rng.integers(0, len(THINGS), PARTS)]
    part = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _str([f"{c} {t}" for c, t in zip(color, thing)]),
        "p_brand": _str([f"Brand#{b}" for b in rng.integers(1, 26, PARTS)]),
        "p_type": _pick(rng, PART_TYPES, PARTS),
        "p_size": pa.array(rng.integers(1, 51, PARTS).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(PARTS) % 2000) / 10, 2)),
    })

    n_orders = CUSTOMERS * ORDERS_PER_CUSTOMER
    ok = key_base + np.arange(n_orders, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": pa.array(ok),
        # exactly ORDERS_PER_CUSTOMER orders each, so a customer cut keeps a
        # seed-independent number of orders
        "o_custkey": pa.array(ck[rng.permutation(
            np.repeat(np.arange(CUSTOMERS), ORDERS_PER_CUSTOMER))]),
        "o_orderstatus": _pick(rng, STATUSES, n_orders),
        "o_totalprice": pa.array(_money(rng, 850.0, 500_000.0, n_orders)),
        "o_orderdate": _timestamps(rng, dt.datetime(1995, 1, 1), 2404, n_orders, True),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })

    lines = rng.integers(1, MAX_LINES + 1, n_orders)
    n_lines = int(lines.sum())
    l_order = np.repeat(ok, lines)
    l_number = (np.arange(n_lines) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(pk[rng.integers(0, PARTS, n_lines)]),
        "l_suppkey": pa.array(sk[rng.integers(0, SUPPLIERS, n_lines)]),
        "l_linenumber": pa.array(l_number.astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 100_000.0, n_lines)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _pick(rng, ["F", "O"], n_lines),
        "l_shipdate": _timestamps(rng, dt.datetime(1995, 1, 1), 2404, n_lines, True),
    })

    ev_ts = np.sort(_timestamps(rng, dt.datetime(2024, 1, 1), 30, EVENTS, False)
                    .cast(pa.int64()).to_numpy())
    users = rng.integers(0, EVENT_USERS, EVENTS)
    props_k = rng.integers(0, 100, EVENTS)
    events = pa.table({
        "event_id": pa.array(key_base + np.arange(EVENTS, dtype=np.int64)),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, EVENTS),
        "value": pa.array(_money(rng, 0.0, 100.0, EVENTS)),
        "props": _str([f'{{"k": {k}, "email": "user{u}@example.com"}}'
                       for k, u in zip(props_k, users)]),
    })

    texts = []
    for _ in range(DOCUMENTS):
        if texts and rng.random() < 0.1:
            texts.append(texts[int(rng.integers(0, len(texts)))])  # exact dup
            continue
        n = int(rng.integers(10, 80))
        texts.append(" ".join(np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), n)]))
    documents = pa.table({
        "doc_id": pa.array(key_base + np.arange(DOCUMENTS, dtype=np.int64)),
        "text": _str(texts),
        "lang": _pick(rng, LANGS, DOCUMENTS),
        "source": _str([f"src{i % 7}" for i in range(DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })

    oid, opar, olvl, ocode = _hierarchy(rng, ORG_ROWS, ORG_DEPTH, key_base, ORG_CODES)
    org_unit = pa.table({
        "h_id": pa.array(oid),
        "h_parent": pa.array(opar, mask=opar < 0),
        "h_name": _str([f"Unit {i} level {l}" for i, l in zip(oid, olvl)]),
        "h_code": pa.array(ocode),
    })
    tid, tpar, _, tcode = _hierarchy(rng, TEAM_ROWS, TEAM_DEPTH, key_base, TEAM_CODES)
    team = pa.table({
        "t_id": pa.array(tid),
        "t_parent": pa.array(tpar, mask=tpar < 0),
        "t_name": _str([f"Team {i}" for i in tid]),
        "t_code": pa.array(tcode),
    })

    # Seeded filter constants: customer keeps the accounts at or above a
    # balance cut, placed at the balance of a seeded rank (within 1% of
    # half of the customers, or of a fifth for the PostgreSQL workload), so
    # the subset size stays the same across seeds to within 1%; each
    # hierarchy drops one seeded code.
    richest = np.sort(acctbal)[::-1]
    filters = {
        "customer_min_acctbal": float(richest[rng.integers(990, 1010)]),
        "pg_customer_min_acctbal": float(richest[rng.integers(396, 404)]),
        "org_drop_code": int(rng.integers(0, ORG_CODES)),
        "team_drop_code": int(rng.integers(0, TEAM_CODES)),
    }
    tables = {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "org_unit": org_unit, "team": team,
    }
    return tables, filters


def write(seed: int, out_dir: str) -> dict:
    """Write every table as ``out_dir/<name>.parquet``; return the filter
    constants."""
    tables, filters = build(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return filters
