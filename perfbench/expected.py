"""Expected answers from DuckDB over the same parquet the engine reads,
and the comparison the benchmark applies to every checked answer."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def fetch(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


# -- the routed-mix families, spelled in SQL -------------------------------

_DAY = "CAST(date_trunc('day', ts) AS TIMESTAMP)"


def serve_sql(req: dict) -> str:
    """DuckDB twin of one routed-mix ``query``/``query_pipeline``
    request (see ``datagen.serve_request``)."""
    if req["op"] == "query_pipeline":
        by_day = "day" in req["pipeline"][0]["$group"]["_id"]
        key = f"{_DAY} AS day" if by_day else "event_type"
        return f"SELECT {key}, COUNT(*) AS n, SUM(value) AS total FROM events GROUP BY 1"
    where = req.get("where")
    if "cube" in req:
        g = req["group_by"][0]
        key = f"{_DAY} AS day" if g == "day" else g
        return (f"SELECT {key}, COUNT(*) AS n, SUM(value) AS total FROM events "
                f"WHERE {where.replace('day', _DAY)} GROUP BY 1")
    w = f"WHERE {where}" if where else ""
    (name, op, *args), *rest = req["measures"]
    if op == "count":
        return f"SELECT event_type, COUNT(*) AS n, SUM(value) AS total FROM events {w} GROUP BY 1"
    if op == "count_distinct":
        return (f"SELECT event_type, COUNT(DISTINCT user_id) AS {name} "
                f"FROM events {w} GROUP BY 1")
    if op in ("stddev_samp", "stddev_pop"):
        return f"SELECT event_type, {op}(value) AS {name} FROM events {w} GROUP BY 1"
    if op == "quantile_exact":
        q = args[1]
        w2 = f"AND {where}" if where else ""
        return f"""
        WITH v AS (SELECT event_type, value, COUNT(*) AS c FROM events
                   WHERE value IS NOT NULL {w2} GROUP BY 1, 2),
             w AS (SELECT event_type, value,
                          SUM(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
                          SUM(c) OVER (PARTITION BY event_type) AS tot FROM v)
        SELECT event_type, MIN(value) AS {name} FROM w
        WHERE cum >= CEIL(ROUND({q} * tot, 9)) GROUP BY 1"""
    if op == "topn":
        k = args[1]
        return f"""
        WITH c AS (SELECT event_type, user_id, COUNT(*) AS cnt FROM events {w}
                   GROUP BY 1, 2),
             r AS (SELECT event_type, user_id AS {name}, cnt AS {name}_cnt,
                          ROW_NUMBER() OVER (PARTITION BY event_type
                                             ORDER BY cnt DESC, user_id) AS rank
                   FROM c)
        SELECT * FROM r WHERE rank <= {k}"""
    if op in ("min_n", "max_n"):
        k, order = args[1], "ASC" if op == "min_n" else "DESC"
        return (f"SELECT event_type, list_slice(list(value ORDER BY value {order}), 1, {k}) "
                f"AS {name} FROM events {w} GROUP BY 1")
    if op == "top_by":
        k = args[2]
        return (f"SELECT event_type, list_slice(list(user_id ORDER BY value, user_id), "
                f"1, {k}) AS {name} FROM events {w} GROUP BY 1")
    raise KeyError(op)


def cdc_state_sql(landing_dir: str) -> str:
    """The surviving documents after every landed change: base rows no
    change retracted, plus every +1 image (each document is touched at
    most once, see ``datagen.cdc_changes``)."""
    ch = f"read_parquet('{os.path.join(landing_dir, '*.parquet')}')"
    return f"""
    SELECT event_id, ts, user_id, event_type, value FROM events
    WHERE event_id NOT IN (SELECT event_id FROM {ch} WHERE mult < 0)
    UNION ALL
    SELECT event_id, ts, user_id, event_type, value FROM {ch} WHERE mult > 0"""


# -- comparison --------------------------------------------------------------

def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=False)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _sort_key(v):
    if isinstance(v, float):
        return (1, float(f"{v:.6g}"), "")
    if isinstance(v, tuple):
        return (2, 0.0, repr(tuple(_sort_key(x) for x in v)))
    return (0 if v is None else 3, 0.0, str(v))


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_close, a, b))
    return a == b


def normalize(columns, rows, types=None) -> tuple[list[str], list[tuple]]:
    """Rows in sorted-column order with comparable values, row-sorted.
    ``types`` (the service's simpleString types) marks decimal columns,
    which travel as strings."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    dec = {i for i, t in enumerate(types or ()) if t.startswith("decimal")}
    out = []
    for r in rows:
        vals = [float(x) if (i in dec and x is not None) else x
                for i, x in enumerate(r)]
        out.append(tuple(_norm(vals[i]) for i in order))
    out.sort(key=lambda t: tuple(map(_sort_key, t)))
    return [columns[i] for i in order], out


def same(got: tuple, want: tuple) -> str | None:
    """None when two normalized results agree, else why not."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not _close(a, b):
            return f"row {i}: {a!r} != {b!r}"
    return None
