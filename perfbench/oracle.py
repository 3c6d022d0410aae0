"""DuckDB oracle check for gate outputs.

Each gate's cold-pass output (parquet written by the benchmark JVM) must hash
equal to its oracle SQL (`SparkEntry.oracleSql`, dumped next to the outputs
as oracle_sql.json) run by DuckDB over the same generated tables: column
names sorted, rows order-insensitive, floats at full precision -- the
comparison tools/check.py makes.
"""
import hashlib
import json
import math

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x01".join(canon(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check(tables_dir, verify_dir):
    """Returns (gates checked, list of failure messages)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    sqls = json.loads((verify_dir / "oracle_sql.json").read_text())
    gates = sorted(p.name for p in verify_dir.iterdir() if p.is_dir())
    bad = [f"{g}: no oracle SQL" for g in gates if g not in sqls]
    for name, sql in sorted(sqls.items()):
        try:
            spark = pq.read_table(verify_dir / name)
        except Exception as e:  # the gate failed before writing output
            bad.append(f"{name}: no spark output ({e})")
            continue
        try:
            duck = con.execute(sql)
            d_cols = [d[0] for d in duck.description]
            d_rows = duck.fetchall()
        except duckdb.Error as e:
            bad.append(f"{name}: oracle SQL failed ({e})")
            continue
        s_cols = spark.column_names
        s_rows = list(zip(*[spark.column(c).to_pylist() for c in s_cols])) if spark.num_rows else []
        if sorted(s_cols) != sorted(d_cols):
            bad.append(f"{name}: columns {sorted(s_cols)} vs oracle {sorted(d_cols)}")
        elif table_hash(s_rows, s_cols) != table_hash(d_rows, d_cols):
            bad.append(f"{name}: {len(s_rows)} rows differ from the oracle's {len(d_rows)}")
    return len(set(gates) | set(sqls)), bad
