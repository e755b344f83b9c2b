"""Seeded inputs for the benchmark: source tables, CDC segments and
request lists.

Everything here is pure NumPy/pyarrow and depends only on the seed, so
the same seed yields byte-identical files and request lists and a
different seed yields different ones (``selftest.py`` checks both).
The tables have the shapes and value domains of the engine's sf0.1
test lake (``events`` 100k rows, ``lineitem`` 600k rows, ...): the
benchmark writes them inside its own work directory and hands the
engine only these files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
N_EVENTS = 100_000
N_USERS = 1_500
#: events.ts spans 2024-01-01 .. 2024-01-31 (µs since epoch)
TS_LO = 1_704_067_200_000_000
TS_HI = TS_LO + 30 * 86_400_000_000

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
MKTSEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("new", "blue", "old", "cold", "small", "large", "hot", "red")
P_NOUN = ("gizmo", "widget", "anvil", "bolt", "plate", "rod", "ring", "gear")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
WORDS = (
    "a agg batch big column data fast filter group hash index join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window shuffle plan cube cell route cache lake "
    "delta commit snapshot engine"
).split()

#: the CDC landing shape (``mongo_olap_spark.streaming.cdc.CDC_SCHEMA``)
CDC_ARROW_SCHEMA = pa.schema([
    ("op", pa.string()), ("stream_ts", pa.timestamp("us")),
    ("change_id", pa.int64()), ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()),
    ("props", pa.string()), ("mult", pa.int32()),
])


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input stream, so adding a table
    never shifts the values of another."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# -- source tables -------------------------------------------------------

def events_table(seed: int) -> pa.Table:
    r = _rng(seed, "events")
    n = N_EVENTS
    ts = np.sort(r.integers(TS_LO, TS_HI, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, N_USERS, n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _days(r, lo_day, hi_day, n):
    """Midnight timestamps (µs) between two day offsets from 1995-01-01."""
    base = 788_918_400_000_000  # 1995-01-01
    return pa.array(base + r.integers(lo_day, hi_day, n) * 86_400_000_000,
                    pa.timestamp("us"))


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    r = _rng(seed, "tpch")
    n_sup, n_cust, n_part, n_ord, n_line = 1_000, 15_000, 20_000, 150_000, 600_000
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_sup, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_sup)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_sup).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_sup))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(
                np.array(MKTSEGMENTS)[r.integers(0, 5, n_cust)])}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(P_TYPES)[r.integers(0, 6, n_part)]),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(r, 0, 2404, n_ord),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES)[r.integers(0, 5, n_ord)])}),
    }
    okeys = np.sort(r.integers(0, n_ord, n_line))
    first = np.searchsorted(okeys, okeys, side="left")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(r.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(r.integers(0, n_sup, n_line)),
        "l_linenumber": pa.array((np.arange(n_line) - first + 1).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, n_line)]),
        "l_shipdate": _days(r, 1, 2499, n_line),
    })
    return tables


def documents_table(seed: int, n: int = 5_000) -> pa.Table:
    """Word-soup documents with a few planted exact and near duplicates,
    so the dedup operators have groups to find."""
    r = _rng(seed, "documents")
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(words), k)])
             for k in r.integers(10, 100, n)]
    for i in r.choice(n, 40, replace=False):          # exact duplicates
        texts[i] = texts[(i + 1) % n]
    for i in r.choice(n, 20, replace=False):          # one word swapped
        toks = texts[(i + 2) % n].split()
        toks[0] = words[r.integers(0, len(words))]
        texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int, n: int = 2_000, dim: int = 64) -> pa.Table:
    r = _rng(seed, "embeddings")
    v = r.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n).astype(np.int32)),
    })


def write_events(seed: int, data_dir: str) -> pa.Table:
    os.makedirs(data_dir, exist_ok=True)
    ev = events_table(seed)
    _write(ev, os.path.join(data_dir, "events.parquet"))
    return ev


def write_all_tables(seed: int, data_dir: str) -> None:
    """The whole ten-table lake the declared queries read."""
    write_events(seed, data_dir)
    tables = tpch_tables(seed)
    tables["documents"] = documents_table(seed)
    tables["embeddings"] = embeddings_table(seed)
    for name, t in tables.items():
        _write(t, os.path.join(data_dir, f"{name}.parquet"))


# -- CDC segments ----------------------------------------------------------

def cdc_changes(seed: int, base: pa.Table, n_segments: int,
                per_segment: int) -> list[pa.Table]:
    """Change segments over ``base`` events, in ``change_id`` order.

    Each segment mixes inserts of new documents, updates (a −1
    pre-image plus a +1 post-image with a new value, adjacent so a
    pull never splits the pair) and deletes of live documents. A
    document is touched at most once, so the net state is closed-form:
    base − updated − deleted + post-images + inserts."""
    r = _rng(seed, "cdc")
    cols = {c: base.column(c).to_numpy(zero_copy_only=False)
            for c in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    ts_us = base.column("ts").cast(pa.int64()).to_numpy()
    touched = r.permutation(len(ts_us))
    next_doc, next_change, pos = len(ts_us), 1, 0
    stream_us = TS_HI
    segments = []
    for _ in range(n_segments):
        rows = {k: [] for k in CDC_ARROW_SCHEMA.names}

        def emit(op, doc, mult):
            nonlocal next_change, stream_us
            stream_us += 1_000_000
            for k, v in (("op", op), ("stream_ts", stream_us),
                         ("change_id", next_change), ("mult", mult), *doc):
                rows[k].append(v)
            next_change += 1

        while len(rows["op"]) < per_segment:
            kind = r.choice(3, p=(0.6, 0.25, 0.15))
            if kind == 0:
                doc = (("event_id", next_doc),
                       ("ts", int(r.integers(TS_LO, TS_HI))),
                       ("user_id", int(r.integers(0, N_USERS))),
                       ("event_type", EVENT_TYPES[int(r.integers(0, 5))]),
                       ("value", round(float(r.exponential(50.0)), 2)),
                       ("props", f'{{"k": {int(r.integers(0, 100))}}}'))
                next_doc += 1
                emit("insert", doc, 1)
                continue
            i = int(touched[pos])
            pos += 1
            pre = (("event_id", int(cols["event_id"][i])), ("ts", int(ts_us[i])),
                   ("user_id", int(cols["user_id"][i])),
                   ("event_type", str(cols["event_type"][i])),
                   ("value", float(cols["value"][i])),
                   ("props", str(cols["props"][i])))
            if kind == 1:
                emit("update_pre", pre, -1)
                post = pre[:4] + (("value", round(float(r.exponential(50.0)), 2)),
                                  pre[5])
                emit("update_post", post, 1)
            else:
                emit("delete", pre, -1)
        segments.append(pa.table(
            {k: pa.array(v, CDC_ARROW_SCHEMA.field(k).type) for k, v in rows.items()},
            schema=CDC_ARROW_SCHEMA))
    return segments


def land_cdc(segments: list[pa.Table], landing_dir: str) -> int:
    """Write segments as parquet files (one per segment); returns the
    last landed change_id."""
    os.makedirs(landing_dir, exist_ok=True)
    for i, seg in enumerate(segments):
        _write(seg, os.path.join(landing_dir, f"seg-{i:05d}.parquet"))
    return int(segments[-1].column("change_id")[-1].as_py())


# -- request lists ---------------------------------------------------------

def _nth(seq, j: int):
    """Categorical choices cycle with the request's index in its family,
    so every seed sends the same mix; only values come from the seed."""
    return seq[j % len(seq)]


def _types_in(r) -> str:
    k = int(r.integers(2, 4))
    chosen = sorted(r.choice(len(EVENT_TYPES), k, replace=False))
    return ", ".join(f"'{EVENT_TYPES[i]}'" for i in chosen)


def _day_range(r) -> tuple[str, str]:
    lo = int(r.integers(1, 25))
    return f"2024-01-{lo:02d}", f"2024-01-{lo + int(r.integers(2, 7)):02d}"


#: request families of the routed mix and how many of each one pass of
#: a client's list holds (fixed counts: every seed has the same mix)
SERVE_FAMILIES = {
    "plain": 4, "count_distinct": 3, "quantile_exact": 3, "topn": 3,
    "stddev": 3, "min_n": 2, "top_by": 2, "cube_slice": 4,
    "pipeline": 2, "explain": 2,
}
#: the reader mix beside CDC: only families the maintained cubes serve
#: (a source fallback would answer from the stale base table)
#: (and no ~1 ms explain, whose few samples would swing the geomean)
CDC_READ_FAMILIES = {"plain": 4, "stddev": 4, "cube_slice": 4, "pipeline": 4}


def serve_request(r, family: str, j: int, cubes: dict[str, str]) -> dict:
    """Request ``j`` of a routed-mix family (the NDJSON body without
    ``id``); odd ``j`` adds an event_type filter."""
    gb = ["event_type"]
    where = f"event_type IN ({_types_in(r)})" if j % 2 else None
    if family == "plain":
        req = {"op": "query", "source": "events", "group_by": gb,
               "measures": [["n", "count"], ["total", "sum", "value"]]}
    elif family == "count_distinct":
        req = {"op": "query", "source": "events", "group_by": gb,
               "measures": [["nu", "count_distinct", "user_id"]]}
    elif family == "quantile_exact":
        req = {"op": "query", "source": "events", "group_by": gb,
               "measures": [["p", "quantile_exact", "value",
                             _nth((0.25, 0.5, 0.9), j)]]}
    elif family == "topn":
        req = {"op": "query", "source": "events", "group_by": gb,
               "measures": [["top", "topn", "user_id", _nth((3, 5), j)]]}
    elif family == "stddev":
        req = {"op": "query", "source": "events", "group_by": gb,
               "measures": [["sd", _nth(("stddev_samp", "stddev_pop"), j),
                             "value"]]}
    elif family == "min_n":
        req = {"op": "query", "source": "events", "group_by": gb,
               "measures": [["lo", _nth(("min_n", "max_n"), j), "value",
                             _nth((2, 4), j // 2)]]}
    elif family == "top_by":
        req = {"op": "query", "source": "events", "group_by": gb,
               "measures": [["tb", "top_by", "value", "user_id",
                             _nth((2, 3), j)]]}
    elif family == "cube_slice":
        lo, hi = _day_range(r)
        req = {"op": "query", "cube": cubes["daily"],
               "group_by": [_nth(("event_type", "day"), j // 2)],
               "where": f"day >= '{lo}' AND day < '{hi}'"}
        where = None
    elif family in ("pipeline", "explain"):
        # a routable $group, by event_type or by day (the lattice level)
        key = _nth(("event_type", "day"), j)
        _id = ({"event_type": "$event_type"} if key == "event_type" else
               {"day": {"$dateTrunc": {"date": "$ts", "unit": "day"}}})
        pipeline = [{"$group": {"_id": _id, "n": {"$sum": 1},
                                "total": {"$sum": "$value"}}}]
        return {"op": "query_pipeline" if family == "pipeline" else "explain",
                "source": "events", "pipeline": pipeline}
    else:
        raise KeyError(family)
    if where is not None:
        req["where"] = where
    return req


def serve_requests(seed: int, client: int, cubes: dict[str, str],
                   families: dict[str, int]) -> list[tuple[str, dict]]:
    """One client's ``(family, request)`` list: the fixed family counts
    with seeded parameters, in seeded order."""
    r = _rng(seed, f"{sorted(families)}-client-{client}")
    reqs = [(fam, serve_request(r, fam, j, cubes))
            for fam, k in families.items() for j in range(k)]
    return [reqs[i] for i in r.permutation(len(reqs))]


def dumps_canonical(obj) -> bytes:
    return json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()
