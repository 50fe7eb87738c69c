"""Seeded input generator for the benchmark workloads.

Every table is synthesised from ``--seed`` with numpy, in the schema of the
engine's TPC-H-ish catalog (``sources/catalog.py``): ``region nation
customer supplier part orders lineitem events documents embeddings``.
The same seed gives byte-identical files.  Another seed changes values and
row order, but never row counts, per-key densities (line items per order,
events per user), the planted duplicate rate or the table sizes, because
every such quantity is a fixed multiset that the seed only permutes.

Nothing is downloaded and nothing outside the output directory is read.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.15, 0.40, 0.15, 0.15, 0.15]

ORDER_DATE_LO = np.datetime64("1995-01-01")
ORDER_DATE_DAYS = 2404  # through 2001-08-01
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
NEAR_DUP_RATE = 0.05  # documents that repeat an earlier one plus " dup"
EXACT_DUP_RATE = 0.002  # documents that repeat an earlier one verbatim
LINES_PER_ORDER = (1, 7)  # uniform multiset, mean 4 per order


def sizes(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf`` (seed-invariant)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _fixed_multiset(n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` counts cycling lo..hi — the same multiset for every seed."""
    return lo + np.arange(n) % (hi - lo + 1)


def dim_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part — keys dense from 0, rows
    seed-shuffled."""
    n = sizes(sf)
    nc, ns, np_ = n["customer"], n["supplier"], n["part"]
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    ck = rng.permutation(nc)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    sk = rng.permutation(ns)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    pk = rng.permutation(np_)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": np.array(names)[rng.integers(0, len(names), np_)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    return out


def fact_tables(
    rng: np.random.Generator, n_orders: int, dims: dict[str, pa.Table], key0: int = 0
) -> dict[str, pa.Table]:
    """orders + lineitem over ``dims``; order keys ``key0 .. key0+n_orders``.
    Line items per order are a fixed multiset the seed only permutes."""
    nc, ns, np_ = (dims[t].num_rows for t in ("customer", "supplier", "part"))
    no = n_orders
    ok = key0 + rng.permutation(no)
    odate = ORDER_DATE_LO + rng.integers(0, ORDER_DATE_DAYS, no).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    per_order = rng.permutation(_fixed_multiset(no, *LINES_PER_ORDER))
    l_order = np.repeat(ok, per_order)
    l_line = np.concatenate([np.arange(1, c + 1) for c in per_order])
    nl = len(l_order)
    ship = np.repeat(odate, per_order) + rng.integers(1, 96, nl).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 100_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    ).take(rng.permutation(nl))
    return {"orders": orders, "lineitem": lineitem}


def events_table(
    rng: np.random.Generator,
    sf: float,
    t0: np.datetime64 = EVENT_T0,
    span_us: int = EVENT_SPAN_US,
    id0: int = 0,
) -> pa.Table:
    """Event stream: ts-sorted over ``[t0, t0 + span_us)``, event ids from
    ``id0``, a fixed per-user event-count multiset."""
    n = sizes(sf)
    ne, nu = n["events"], n["users"]
    weight = _fixed_multiset(nu, 1, 10)
    per_user = ne * weight // weight.sum()
    per_user[: ne - per_user.sum()] += 1
    users = rng.permutation(np.repeat(rng.permutation(nu), per_user))
    ts = t0 + np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(id0 + np.arange(ne), pa.int64()),
            "ts": pa.array(ts),
            "user_id": pa.array(users, pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )


def documents_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Bag-of-words documents with a fixed planted near/exact-dup rate."""
    nd = sizes(sf)["documents"]
    texts: list[str] = []
    words = np.array(WORDS)
    n_near, n_exact = int(nd * NEAR_DUP_RATE), max(1, int(nd * EXACT_DUP_RATE))
    role = np.zeros(nd, np.int8)
    role[1 : 1 + n_near] = 1
    role[1 + n_near : 1 + n_near + n_exact] = 2
    role[1:] = rng.permutation(role[1:])
    for i in range(nd):
        if role[i] and texts:
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(src + " dup" if role[i] == 1 else src)
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 96)))]))
    lang = np.array(LANGS)[rng.choice(5, nd, p=LANG_WEIGHTS)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """64-d unit vectors with weak per-label clusters (labels 0..9)."""
    nv = sizes(sf)["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.01, (10, 64))
    x = rng.normal(0.0, 0.125, (nv, 64)) + centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_catalog(out_dir: str, seed: int, sf: float, tables: list[str]) -> dict[str, int]:
    """Write the named catalog tables under ``out_dir`` as
    ``{table}.parquet`` files.  Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table family: a table's bytes depend on
    # the seed alone, not on which other tables a workload asks for
    dims_rng, facts_rng, ev_rng, doc_rng, emb_rng = (
        np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(5)
    )
    built = dim_tables(dims_rng, sf)
    built.update(fact_tables(facts_rng, sizes(sf)["orders"], built))
    if "events" in tables:
        built["events"] = events_table(ev_rng, sf)
    if "documents" in tables:
        built["documents"] = documents_table(doc_rng, sf)
    if "embeddings" in tables:
        built["embeddings"] = embeddings_table(emb_rng, sf)
    rows = {}
    for name in tables:
        _write(built[name], os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = built[name].num_rows
    return rows


def write_split(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as a directory of ``n_files`` row-ordered parts with
    strictly increasing mtimes, so a file-stream source replays them in
    order."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    base = dt.datetime(2024, 1, 1).timestamp()
    for i in range(n_files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]), part)
        os.utime(part, (base + i, base + i))


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# nightly_retail: per-day reference-domain feeds (CSV) + the day's TPC-H
# slice they were derived from (the DuckDB oracle's input)

FIRST_RUN_DATE = dt.date(2025, 8, 20)
HISTORY_DAYS = 14
# per-day order volume, a fixed schedule (seed-invariant): +-3 % churn
DAY_VOLUME = (1.00, 1.03, 0.97, 1.02, 0.98, 1.01, 0.99)
PRICE_CHURN = 0.02  # share of parts repriced each day
SEGMENT_CHURN = 0.01  # share of customers re-segmented each day

# Feed = the TPC-H adapter (marts/tpch_adapter.py) applied at the source,
# with the reference's human-readable CSV headers ("sale id" -> SALE_ID
# after ingestion's column-name normalisation).
FEED_SQL = {
    "sales": """
        SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
                   AS "sale id",
               l_orderkey AS "order id", o_custkey AS "customer id",
               l_partkey AS "product id", l_suppkey AS "supplier id",
               l_quantity AS "quantity", l_discount * 100.0 AS "discount",
               CAST(l_shipdate AS DATE) AS "sale date",
               CASE WHEN l_returnflag = 'R' THEN 'Cancelled' ELSE 'Delivered' END
                   AS "order status"
        FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey""",
    "products": """
        SELECT p_partkey AS "product id", p_name AS "product name",
               p_type AS "category", p_retailprice AS "selling price",
               CAST(ROUND(CAST(p_retailprice * 0.7 AS DECIMAL(38,6)), 2) AS DOUBLE)
                   AS "cost price",
               p_size * 100 AS "stock quantity", p_size * 40 AS "reorder level"
        FROM part""",
    "customers": """
        SELECT c_custkey AS "customer id", c_name AS "name", c_mktsegment AS "city"
        FROM customer""",
    "suppliers": """
        SELECT s_suppkey AS "supplier id", s_name AS "supplier name" FROM supplier""",
}
FEED_SCHEMA = {
    "sales": "`sale id` STRING, `order id` BIGINT, `customer id` BIGINT, "
    "`product id` BIGINT, `supplier id` BIGINT, `quantity` DOUBLE, "
    "`discount` DOUBLE, `sale date` DATE, `order status` STRING",
    "products": "`product id` BIGINT, `product name` STRING, `category` STRING, "
    "`selling price` DOUBLE, `cost price` DOUBLE, `stock quantity` INT, "
    "`reorder level` INT",
    "customers": "`customer id` BIGINT, `name` STRING, `city` STRING",
    "suppliers": "`supplier id` BIGINT, `supplier name` STRING",
}
FEED_KEYS = {
    "sales": ["SALE_ID"],
    "products": ["PRODUCT_ID"],
    "customers": ["CUSTOMER_ID"],
    "suppliers": ["SUPPLIER_ID"],
}


def run_date(day: int) -> dt.date:
    return FIRST_RUN_DATE + dt.timedelta(days=day)


def day_orders(base_orders: int, day: int) -> int:
    """Orders on day ``day`` (negative days are the pre-benchmark history)."""
    return int(base_orders * DAY_VOLUME[day % len(DAY_VOLUME)])


def line_count(n_orders: int) -> int:
    return int(_fixed_multiset(n_orders, *LINES_PER_ORDER).sum())


def write_nightly(
    out_dir: str, seed: int, sf: float, n_days: int, event_sf: float, event_files: int
) -> dict:
    """Write ``n_days`` consecutive feed days under ``out_dir``.

    Layout: ``feeds/{YYYYMMDD}/{feed}_{YYYYMMDD}.csv`` (the engine's dated
    source path), ``day{d}/{table}.parquet`` (that day's TPC-H slice, for
    the oracle), ``history.parquet`` (sales row counts of the
    ``HISTORY_DAYS`` days before the first run date, for the volume gate),
    one ``corrections`` feed per day that repeats a sale id, which the
    duplicate gate must reject, and the day's click stream as
    ``day{d}/events.parquet/`` in ``event_files`` time-ordered files.
    """
    import duckdb

    rng = np.random.default_rng(seed)
    dims = dim_tables(rng, sf)
    base_orders = sizes(sf)["orders"]
    con = duckdb.connect()
    rows = {"sales": 0, "products": 0, "customers": 0, "suppliers": 0}
    key0 = 0
    for d in range(n_days):
        day = run_date(d)
        # day-over-day churn on the dimensions, applied cumulatively
        part = dims["part"].to_pandas()
        hit = rng.random(len(part)) < PRICE_CHURN
        part.loc[hit, "p_retailprice"] = np.round(part.loc[hit, "p_retailprice"] + 0.1, 2)
        dims["part"] = pa.Table.from_pandas(part, schema=dims["part"].schema, preserve_index=False)
        cust = dims["customer"].to_pandas()
        hit = rng.random(len(cust)) < SEGMENT_CHURN
        cust.loc[hit, "c_mktsegment"] = np.array(SEGMENTS)[rng.integers(0, 5, int(hit.sum()))]
        dims["customer"] = pa.Table.from_pandas(cust, schema=dims["customer"].schema, preserve_index=False)
        n_orders = day_orders(base_orders, d)
        tables = dict(dims, **fact_tables(rng, n_orders, dims, key0))
        key0 += n_orders
        day_dir = os.path.join(out_dir, f"day{d}")
        os.makedirs(day_dir, exist_ok=True)
        for name, table in tables.items():
            _write(table, os.path.join(day_dir, f"{name}.parquet"))
            con.register(name, table)
        stamp = day.strftime("%Y%m%d")
        feed_dir = os.path.join(out_dir, "feeds", stamp)
        os.makedirs(feed_dir, exist_ok=True)
        for feed, sql in FEED_SQL.items():
            path = os.path.join(feed_dir, f"{feed}_{stamp}.csv")
            con.execute(f"COPY ({sql} ORDER BY 1) TO '{path}' (HEADER, DELIMITER ',')")
            rows[feed] += con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        path = os.path.join(feed_dir, f"corrections_{stamp}.csv")
        con.execute(
            f"COPY (SELECT * FROM ({FEED_SQL['sales']} ORDER BY 1 LIMIT 2) "
            f"UNION ALL SELECT * FROM ({FEED_SQL['sales']} ORDER BY 1 LIMIT 1)) "
            f"TO '{path}' (HEADER, DELIMITER ',')"
        )
        for name in tables:
            con.unregister(name)
        events = events_table(
            rng, event_sf, np.datetime64(day, "us"), 86_400 * 1_000_000, d * 10_000_000
        )
        write_split(events, os.path.join(day_dir, "events.parquet"), event_files)
        rows["events"] = rows.get("events", 0) + events.num_rows
    history = [line_count(day_orders(base_orders, d)) for d in range(-HISTORY_DAYS, 0)]
    _write(
        pa.table({"DAY_DT": [run_date(d) for d in range(-HISTORY_DAYS, 0)], "n_rows": history}),
        os.path.join(out_dir, "history.parquet"),
    )
    return rows
