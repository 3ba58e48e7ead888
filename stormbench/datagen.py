"""Seeded input tables for the query workloads.

Writes the engine's table layout (the TPC-H-like star schema plus `events`,
`documents` and `embeddings`) as one parquet file per table. Every value is a
hash of (seed, table, row, column), so the same seed always gives the same
files, whatever the thread count DuckDB picks.
"""
import os

import duckdb

# Words of the generated documents. A small vocabulary makes near-duplicate
# candidate pairs common, which the corpus operators need to do real work.
VOCAB = ("a the data spark batch window stream table row column key value "
         "query join merge group sort hash scan filter agg order line part "
         "customer small big fast slow vector").split()

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _lst(xs):
    return "[" + ", ".join("'%s'" % x for x in xs) + "]"


def generate(out_dir, seed, scale):
    """Write all tables for `seed` into `out_dir`; `scale` multiplies rows."""
    os.makedirs(out_dir, exist_ok=True)
    n_orders = int(15000 * scale)
    n_cust = int(1500 * scale)
    n_part = int(2000 * scale)
    n_supp = max(10, int(100 * scale))
    n_events = int(10000 * scale)
    n_docs = int(500 * scale)
    n_emb = int(200 * scale)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(i, salt): uniform integer in [0, 2^63) from (seed, salt, i)
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash(i, {int(seed)}, salt) >> 1)::BIGINT")

    def write(name, sql):
        path = os.path.join(out_dir, name + ".parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    write("region", "SELECT i::INTEGER AS r_regionkey, "
          "'REGION' || i AS r_name FROM range(5) t(i)")
    write("nation", "SELECT i::INTEGER AS n_nationkey, 'NATION' || i AS n_name, "
          "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)")
    write("customer", f"""
        SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
          (u(i, 'cn') % 25)::INTEGER AS c_nationkey,
          round((u(i, 'cb') % 1100000 - 100000) / 100.0, 2) AS c_acctbal,
          {_lst(SEGMENTS)}[1 + u(i, 'cs') % 5] AS c_mktsegment
        FROM range({n_cust}) t(i)""")
    write("supplier", f"""
        SELECT i AS s_suppkey, 'Supplier#' || i AS s_name,
          (u(i, 'sn') % 25)::INTEGER AS s_nationkey,
          round((u(i, 'sb') % 1000000) / 100.0, 2) AS s_acctbal
        FROM range({n_supp}) t(i)""")
    write("part", f"""
        SELECT i AS p_partkey, 'part ' || i AS p_name,
          'Brand#' || (1 + u(i, 'pb') % 5) AS p_brand,
          'TYPE' || (u(i, 'pt') % 10) AS p_type,
          (1 + u(i, 'ps') % 50)::INTEGER AS p_size,
          round(900 + (u(i, 'pr') % 100000) / 100.0, 2) AS p_retailprice
        FROM range({n_part}) t(i)""")
    write("orders", f"""
        SELECT i AS o_orderkey, u(i, 'oc') % {n_cust} AS o_custkey,
          ['F', 'O', 'P'][1 + u(i, 'os') % 3] AS o_orderstatus,
          round(1000 + (u(i, 'op') % 50000000) / 100.0, 2) AS o_totalprice,
          TIMESTAMP '1995-01-01' + to_days((u(i, 'od') % 2400)::INTEGER) AS o_orderdate,
          {_lst(PRIORITIES)}[1 + u(i, 'oq') % 5] AS o_orderpriority
        FROM range({n_orders}) t(i)""")
    # 1 to 7 lines per order, 4 on average
    write("lineitem", f"""
        WITH o AS (SELECT i AS ok, 1 + u(i, 'ln') % 7 AS n FROM range({n_orders}) t(i)),
        l AS (SELECT ok, j::INTEGER AS ln FROM o, range(7) r(j) WHERE j < n)
        SELECT ok AS l_orderkey, u(ok * 8 + ln, 'lp') % {n_part} AS l_partkey,
          u(ok * 8 + ln, 'ls') % {n_supp} AS l_suppkey, ln AS l_linenumber,
          (1 + u(ok * 8 + ln, 'lq') % 50)::DOUBLE AS l_quantity,
          round(900 + (u(ok * 8 + ln, 'le') % 10000000) / 100.0, 2) AS l_extendedprice,
          (u(ok * 8 + ln, 'ld') % 11) / 100.0 AS l_discount,
          (u(ok * 8 + ln, 'lt') % 9) / 100.0 AS l_tax,
          ['A', 'N', 'R'][1 + u(ok * 8 + ln, 'lr') % 3] AS l_returnflag,
          ['F', 'O'][1 + u(ok * 8 + ln, 'lo') % 2] AS l_linestatus,
          TIMESTAMP '1995-01-02' + to_days((u(ok * 8 + ln, 'lh') % 2500)::INTEGER) AS l_shipdate
        FROM l""")
    write("events", f"""
        SELECT i AS event_id,
          TIMESTAMP '2024-01-01' + to_microseconds(i * 25920000 + u(i, 'et') % 25920000) AS ts,
          u(i, 'eu') % {max(10, n_events // 60)} AS user_id,
          {_lst(EVENT_TYPES)}[1 + u(i, 'ey') % 5] AS event_type,
          round((u(i, 'ev') % 50000) / 100.0, 2) AS value,
          '{{"k": ' || (u(i, 'ek') % 100) || '}}' AS props
        FROM range({n_events}) t(i)""")
    # three in ten documents copy one of the 20 before them with one word in
    # eight replaced: the near-duplicate families the dedup operators find
    write("documents", f"""
        WITH d AS (SELECT i, CASE WHEN i > 0 AND u(i, 'dd') % 10 < 3
                     THEN i - 1 - u(i, 'ds') % least(i, 20) ELSE i END AS src
                   FROM range({n_docs}) t(i)),
        w AS (SELECT i, string_agg(CASE WHEN src <> i AND u(i * 100 + j, 'dm') % 8 = 0
                  THEN {_lst(VOCAB)}[1 + u(i * 100 + j, 'dx') % {len(VOCAB)}]
                  ELSE {_lst(VOCAB)}[1 + u(src * 100 + j, 'dw') % {len(VOCAB)}] END,
                ' ' ORDER BY j) AS text
              FROM d, range(72) r(j) WHERE j < 12 + u(src, 'dl') % 60 GROUP BY i)
        SELECT i AS doc_id, text, {_lst(LANGS)}[1 + u(i, 'dg') % {len(LANGS)}] AS lang,
          'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
        FROM w ORDER BY i""")
    write("embeddings", f"""
        SELECT i AS vec_id,
          list_transform(range(16), k -> ((u(i * 16 + k, 'ee') % 2000) / 1000.0 - 1.0)::FLOAT)
            AS embedding,
          (u(i, 'el') % 10)::INTEGER AS label
        FROM range({n_emb}) t(i)""")
    con.close()
