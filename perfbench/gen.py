"""Seeded generator for the benchmark's inputs.

The tables (orders, lineitem, events) have the schema, parquet encoding
(pyarrow, snappy, naive microsecond timestamps) and value domains of the
sf0.1 test tables the engine's queries and DuckDB oracles are written
against. Every value is a hash of (seed, table, row, column), so the same
seed gives the same bytes and the generator reads nothing but its arguments.
"""
import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of sf0.1; customer, supplier and part are only the key
# domains of the foreign keys.
SF01 = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000}
USERS = 1500
ALL = ["orders", "lineitem", "events"]

_TS = pa.timestamp("us")
SCHEMAS = {
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", _TS), ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", _TS)],
    "events": [("event_id", pa.int64()), ("ts", _TS),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
}

# u(s, t, i, c): uniform [0, 1) draw for seed s, table tag t, row i and
# column tag c; k(..., n): integer draw in [0, n). In the queries below $S
# stands for the seed.
_MACROS = """
CREATE OR REPLACE MACRO u(s, t, i, c) AS
  (hash(s, t, i, c) % 4294967296)::DOUBLE / 4294967296.0;
CREATE OR REPLACE MACRO k(s, t, i, c, n) AS
  (hash(s, t, i, c) % n::UBIGINT)::BIGINT;
CREATE OR REPLACE MACRO pick(s, t, i, c, xs) AS xs[1 + k(s, t, i, c, len(xs))];
"""

_SQL = {
    "orders": """SELECT i AS o_orderkey,
        k($S,'o',i,'c',{customer}) AS o_custkey,
        pick($S,'o',i,'s',['F','O','P']) AS o_orderstatus,
        round(1000 + u($S,'o',i,'p') * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(k($S,'o',i,'d',2405)::INT)
          AS o_orderdate,
        pick($S,'o',i,'q',['1-URGENT','2-HIGH','3-MEDIUM',
             '4-NOT SPECIFIED','5-LOW']) AS o_orderpriority
        FROM range({orders}) t(i) ORDER BY 1""",
    "lineitem": """SELECT k($S,'l',i,'o',{orders}) AS l_orderkey,
        k($S,'l',i,'p',{part}) AS l_partkey,
        k($S,'l',i,'s',{supplier}) AS l_suppkey,
        (1 + k($S,'l',i,'n',7))::INT AS l_linenumber,
        (1 + k($S,'l',i,'q',50))::DOUBLE AS l_quantity,
        round(900 + u($S,'l',i,'e') * 104100, 2) AS l_extendedprice,
        round(u($S,'l',i,'d') * 0.1, 2) AS l_discount,
        round(u($S,'l',i,'t') * 0.08, 2) AS l_tax,
        pick($S,'l',i,'r',['A','N','R']) AS l_returnflag,
        pick($S,'l',i,'f',['F','O']) AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(k($S,'l',i,'h',2498)::INT)
          AS l_shipdate
        FROM range({lineitem}) t(i) ORDER BY i""",
    "events": """SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(
          k($S,'e',i,'t',2592000000000)) AS ts,
        k($S,'e',i,'u',{users}) AS user_id,
        pick($S,'e',i,'y',['click','error','purchase','signup','view'])
          AS event_type,
        round(-100 * ln(1 - 0.996 * u($S,'e',i,'v')), 2) AS value,
        '{{"k": ' || k($S,'e',i,'k',100) || '}}' AS props
        FROM range({events}) t(i) ORDER BY 1""",
}


def counts(scale):
    """Row counts at `scale` times sf0.1."""
    c = {t: max(1, int(round(n * scale))) for t, n in SF01.items()}
    c["users"] = max(1, int(round(USERS * scale)))
    return c


def generate(out_dir, seed, tables=ALL, scale=1.0):
    """Write `tables` at `scale` times sf0.1 under out_dir, each as one
    parquet file <name>.parquet, and return {name: {"rows": n, "bytes": b}}."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(_MACROS)
    stats = {}
    for name in tables:
        sql = _SQL[name].format(**counts(scale)).replace("$S", str(int(seed)))
        t = con.execute(sql).fetch_arrow_table().cast(pa.schema(SCHEMAS[name]))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        stats[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    con.close()
    return stats


def row_hash(path):
    """Order-insensitive digest of a table's rows."""
    con = duckdb.connect()
    h = con.execute(
        "SELECT count(*), sum(hash(t::VARCHAR) % 1000000007) FROM "
        f"read_parquet({path!r}) t").fetchone()
    con.close()
    return hashlib.sha256(repr(h).encode()).hexdigest()
