"""Generate the sf0.3 / sf1.0 scale-probe corpora under /tmp/scaleprobe.

Replicates /root/testdata/sf0.1 K times with join-consistent shifted
keys (each table's key domain shifts by its own max+1 per copy; orders
shift o_custkey with the customer domain, lineitem shifts all three FK
domains, events shift user_id). region/nation stay as-is so FK targets
remain valid. documents/embeddings are cloned verbatim, so dedup/ANN
candidate populations grow with the corpus — deliberate: the probe
measures how candidate-generation COST scales, and clone-heavy corpora
are the adversarial case for banding/bucketing.

Usage: python tools/make_scale_data.py   (the probe that read these corpora,
tools/scale_probe.py, is in git history up to commit ee7de36)
"""

from __future__ import annotations

import os

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = "/tmp/scaleprobe"


def generate(con, K: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    shifts = {}
    for t, key in [
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
    ]:
        mx = con.execute(
            f"SELECT max({key}) FROM read_parquet('{SRC}/{t}.parquet')"
        ).fetchone()[0]
        shifts[t] = int(mx) + 1
    shifts["user"] = (
        int(
            con.execute(
                f"SELECT max(user_id) FROM read_parquet('{SRC}/events.parquet')"
            ).fetchone()[0]
        )
        + 1
    )
    for t in ["region", "nation"]:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    simple = {
        "customer": "SELECT c_custkey + {i}*{s} AS c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM base",
        "supplier": "SELECT s_suppkey + {i}*{s} AS s_suppkey, s_name, s_nationkey, s_acctbal FROM base",
        "part": "SELECT p_partkey + {i}*{s} AS p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM base",
        "documents": "SELECT doc_id + {i}*{s} AS doc_id, text, lang, source, n_chars FROM base",
        "embeddings": "SELECT vec_id + {i}*{s} AS vec_id, embedding, label FROM base",
    }
    for t, q in simple.items():
        u = " UNION ALL ".join(q.format(i=i, s=shifts[t]) for i in range(K))
        con.execute(
            f"COPY (WITH base AS (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) {u}) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    oq = " UNION ALL ".join(
        f"SELECT o_orderkey + {i}*{shifts['orders']} AS o_orderkey, "
        f"o_custkey + {i}*{shifts['customer']} AS o_custkey, o_orderstatus, "
        f"o_totalprice, o_orderdate, o_orderpriority FROM base"
        for i in range(K)
    )
    con.execute(
        f"COPY (WITH base AS (SELECT * FROM read_parquet('{SRC}/orders.parquet')) {oq}) "
        f"TO '{out}/orders.parquet' (FORMAT PARQUET)"
    )
    lq = " UNION ALL ".join(
        f"SELECT l_orderkey + {i}*{shifts['orders']} AS l_orderkey, "
        f"l_partkey + {i}*{shifts['part']} AS l_partkey, "
        f"l_suppkey + {i}*{shifts['supplier']} AS l_suppkey, l_linenumber, "
        f"l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, "
        f"l_linestatus, l_shipdate FROM base"
        for i in range(K)
    )
    con.execute(
        f"COPY (WITH base AS (SELECT * FROM read_parquet('{SRC}/lineitem.parquet')) {lq}) "
        f"TO '{out}/lineitem.parquet' (FORMAT PARQUET)"
    )
    eq = " UNION ALL ".join(
        f"SELECT event_id + {i}*{shifts['events']} AS event_id, ts, "
        f"user_id + {i}*{shifts['user']} AS user_id, event_type, value, props FROM base"
        for i in range(K)
    )
    con.execute(
        f"COPY (WITH base AS (SELECT * FROM read_parquet('{SRC}/events.parquet')) {eq}) "
        f"TO '{out}/events.parquet' (FORMAT PARQUET)"
    )
    print(f"{out} (K={K}) done")


if __name__ == "__main__":
    con = duckdb.connect()
    generate(con, 3, f"{OUT}/sf0.3")
    generate(con, 10, f"{OUT}/sf1.0")
