"""Reference answers from DuckDB, the independent oracle.

Results are compared the way scripts/check.py compares them: columns sorted
by name, values canonicalised, rows sorted. A result is reduced to a SHA-256
of that canonical frame.

Some oracle queries take minutes in DuckDB at this scale, so the digests are
kept in expected.json, each keyed by the SHA-256 of its oracle SQL and of
the data files. A run fails when the digest of one of its queries is
missing or its key no longer matches.

Bring the digests up to date: python3 perfbench/oracle.py refresh
"""
import hashlib
import json
import sys
import threading
import time
from pathlib import Path

import duckdb

import jvm

BENCH = Path(__file__).resolve().parent
DATA = BENCH / "data" / "sf0.1"
EXPECTED = BENCH / "expected.json"
REFRESH_LIMIT_S = 300
MAX_SPILL = "4GB"
# Oracle SQL that DuckDB cannot finish at this scale, and an equivalent query
# that refresh evaluates instead. r06: the oracle orients each edge from the
# lower- to the higher-degree node, which spills past MAX_SPILL; orienting by
# node id (u < v) also counts each triangle exactly once.
EQUIVALENT_SQL = {"r06_triangle_count": """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p),
wedge AS MATERIALIZED (SELECT e1.u AS a, e2.v AS c FROM edges e1 JOIN edges e2 ON e1.v = e2.u)
SELECT (SELECT count(*) FROM edges) AS n_edges,
       (SELECT count(*) FROM (SELECT u FROM edges UNION SELECT v FROM edges)) AS n_nodes,
       (SELECT count(*) FROM wedge w JOIN edges e3 ON e3.u = w.a AND e3.v = w.c) AS n_triangles
"""}
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else str(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    frame = sorted(tuple(canon(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256(json.dumps([[cols[i] for i in idx], frame]).encode())
    return h.hexdigest(), len(frame)


def connect(tmp, data=DATA):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET memory_limit = '4GB'")
    con.execute(f"SET max_temp_directory_size = '{MAX_SPILL}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def query_digest(con, sql):
    cur = con.execute(sql)
    return digest([d[0] for d in cur.description], cur.fetchall())


def parquet_digest(con, path):
    return query_digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


def sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


def data_sha(data=DATA):
    h = hashlib.sha256()
    for t in TABLES:
        h.update((data / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def load_expected():
    return json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {"data_sha256": "", "queries": {}}


def expected_digest(store, name, sql, data_key):
    """The oracle's digest of `name` from the store. Raises when there is
    none or it was computed from other data or another oracle SQL."""
    e = store["queries"].get(name)
    if not (e and e["digest"] and store["data_sha256"] == data_key
            and e["sql_sha256"] == sha(sql)):
        raise jvm.BenchError(f"no up-to-date oracle digest for {name}; "
                             "run: python3 perfbench/oracle.py refresh")
    return e["digest"]


def limited_digest(con, sql, limit_s):
    """query_digest, or (None, reason) when DuckDB fails or runs too long."""
    timer = threading.Timer(limit_s, con.interrupt)  # duckdb.Error on expiry
    timer.start()
    try:
        return query_digest(con, sql)
    except duckdb.Error as e:
        return None, f"DuckDB gave no answer within {limit_s} s and {MAX_SPILL} of spill: {e}"[:300]
    finally:
        timer.cancel()


def refresh():
    """Compute with DuckDB every digest whose key is stale or missing, saving
    expected.json after each query."""
    dest = jvm.build()
    out = BENCH / ".oracle"
    out.mkdir(parents=True, exist_ok=True)
    rc = jvm.run_main(dest, "graft.perfbench.OracleSql", [], out, out / "sql.txt", 300)
    if rc != 0:
        raise jvm.BenchError(f"OracleSql exited {rc}")
    sqls = json.loads((out / "sql.txt").read_text().strip().splitlines()[-1])
    con = connect(out / "duckdb_tmp")
    key = data_sha()
    store = load_expected()
    if store["data_sha256"] != key:
        store = {"data_sha256": key, "queries": {}}
    store["queries"] = {n: e for n, e in store["queries"].items() if n in sqls}
    for name in sorted(sqls):
        e = store["queries"].get(name)
        if e and e["sql_sha256"] == sha(sqls[name]) and e["digest"]:
            continue
        t = time.time()
        d, n = limited_digest(con, EQUIVALENT_SQL.get(name, sqls[name]), REFRESH_LIMIT_S)
        e = {"sql_sha256": sha(sqls[name]), "digest": d}
        if not d:
            e["note"] = n
        else:
            e["rows"] = n
            if name in EQUIVALENT_SQL:
                e["note"] = "digest of oracle.EQUIVALENT_SQL, not of the oracle SQL"
        store["queries"][name] = e
        EXPECTED.write_text(json.dumps(store, indent=1, sort_keys=True) + "\n")
        print(f"{name}: {n if d else 'no digest'} rows, {time.time() - t:.1f} s", flush=True)


if __name__ == "__main__":
    if sys.argv[1:] != ["refresh"]:
        sys.exit(__doc__)
    refresh()
