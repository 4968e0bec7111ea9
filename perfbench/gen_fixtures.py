#!/usr/bin/env python3
"""Deterministic generator for the benchmark's parquet fixtures.

Writes the ten tables the engine's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schemas and value distributions of the engine's reference corpus
(FIXTURES.md, section B): uniform keys and categories, exponential event
values, 31-word documents with 5 % planted " dup" copies, and unit-norm
64-dim gaussian embeddings.

Every value is a pure function of (row id, column salt, DATA_SEED) through
DuckDB's `hash`, so the output does not depend on thread count or
scheduling. Usage: gen_fixtures.py OUT_DIR SCALE
"""
import os
import sys

import duckdb

DATA_SEED = 42
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def sizes(scale):
    """Row counts per table; the TPC-H-style tables scale linearly, the
    text and vector tables have the corpus' floors (500 rows)."""
    n = lambda base: max(1, int(round(base * scale)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def generate(out_dir, scale):
    s = sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    # u(i, salt): uniform [0, 1) from the row id and a per-column salt.
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash(i, salt, {DATA_SEED}) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO pick(i, salt, xs) AS "
                "xs[1 + CAST(floor(u(i, salt) * len(xs)) AS INTEGER)]")
    con.execute("CREATE MACRO ri(i, salt, lo, hi) AS "
                "CAST(lo + floor(u(i, salt) * (hi - lo + 1)) AS BIGINT)")
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    con.execute(f"""CREATE MACRO words(i) AS array_to_string(list_transform(
        range(CAST(ri(i, 'nw', 10, 100) AS INTEGER)),
        j -> pick(i * 1000 + j, 'w', {vocab})), ' ')""")

    tables = {
        "region": """SELECT CAST(i AS INTEGER) r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) n_nationkey,
            'NATION_' || i n_name, CAST(i % 5 AS INTEGER) n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""SELECT i c_custkey,
            'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') c_name,
            CAST(ri(i, 'cn', 0, 24) AS INTEGER) c_nationkey,
            round(-999.99 + u(i, 'cb') * 10999.98, 2) c_acctbal,
            pick(i, 'cs', ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD',
                           'MACHINERY']) c_mktsegment
            FROM range({s['customer']}) t(i)""",
        "supplier": f"""SELECT i s_suppkey,
            'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') s_name,
            CAST(ri(i, 'sn', 0, 24) AS INTEGER) s_nationkey,
            round(-999.99 + u(i, 'sb') * 10999.98, 2) s_acctbal
            FROM range({s['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            pick(i, 'pc', ['blue','cold','hot','large','new','old','red',
                           'small']) || ' ' ||
            pick(i, 'pn', ['anvil','bolt','gear','gizmo','plate','ring',
                           'rod','widget']) p_name,
            'Brand#' || ri(i, 'pb', 1, 25) p_brand,
            pick(i, 'pt', ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL',
                           'STANDARD']) p_type,
            CAST(ri(i, 'ps', 1, 50) AS INTEGER) p_size,
            round(900 + (i % 1000) / 10.0, 1) p_retailprice
            FROM range({s['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey,
            ri(i, 'oc', 0, {s['customer'] - 1}) o_custkey,
            pick(i, 'os', ['F','O','P']) o_orderstatus,
            round(1000 + u(i, 'op') * 499000, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(ri(i, 'od', 0, 2404) AS INTEGER)) o_orderdate,
            pick(i, 'oo', ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED',
                           '5-LOW']) o_orderpriority
            FROM range({s['orders']}) t(i)""",
        "lineitem": f"""SELECT ri(i, 'lo', 0, {s['orders'] - 1}) l_orderkey,
            ri(i, 'lp', 0, {s['part'] - 1}) l_partkey,
            ri(i, 'ls', 0, {s['supplier'] - 1}) l_suppkey,
            CAST(ri(i, 'll', 1, 7) AS INTEGER) l_linenumber,
            CAST(ri(i, 'lq', 1, 50) AS DOUBLE) l_quantity,
            round(900 + u(i, 'le') * 104100, 2) l_extendedprice,
            ri(i, 'ld', 0, 10) / 100.0 l_discount,
            ri(i, 'lt', 0, 8) / 100.0 l_tax,
            pick(i, 'lr', ['A','N','R']) l_returnflag,
            pick(i, 'lx', ['F','O']) l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST(ri(i, 'lh', 0, 2498) AS INTEGER)) l_shipdate
            FROM range({s['lineitem']}) t(i)""",
        # ts: strictly increasing over 30 days, jittered within each slot.
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(
                (i + u(i, 'et')) * (2592000000000 / {s['events']}) AS BIGINT)) ts,
            ri(i, 'eu', 0, {s['users'] - 1}) user_id,
            pick(i, 'ey', ['click','error','purchase','signup','view']) event_type,
            round(-50 * ln(1 - u(i, 'ev')), 2) AS value,
            '{{"k": ' || ri(i, 'ek', 0, 99) || '}}' props
            FROM range({s['events']}) t(i)""",
        # 5 % of documents repeat an earlier document's text plus " dup".
        "documents": f"""SELECT doc_id, "text",
            pick(doc_id, 'dl', ['en','en','en','en','en','en','en','en',
                 'es','es','es','fr','fr','fr','zh','zh','zh','de','de','de']) AS lang,
            'src' || (doc_id % 20) AS source, CAST(length("text") AS BIGINT) n_chars
            FROM (SELECT i doc_id, CASE WHEN i > 0 AND u(i, 'dd') < 0.05
                THEN words(ri(i, 'dj', 0, i - 1)) || ' dup' ELSE words(i) END AS "text"
                FROM range({s['documents']}) t(i))""",
        # Box-Muller gaussians, normalised to unit length.
        "embeddings": f"""SELECT vec_id, list_transform(g, x ->
                CAST(x / sqrt(list_aggregate(list_transform(g, y -> y * y), 'sum'))
                     AS FLOAT)) AS embedding,
            CAST(ri(vec_id, 'el', 0, 9) AS INTEGER) AS label
            FROM (SELECT i vec_id, list_transform(range(64), j ->
                sqrt(-2 * ln(1 - u(i * 64 + j, 'g1'))) *
                cos(2 * pi() * u(i * 64 + j, 'g2'))) g
                FROM range({s['embeddings']}) t(i))""",
    }
    for name, sql in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: gen_fixtures.py OUT_DIR SCALE")
    generate(sys.argv[1], float(sys.argv[2]))
