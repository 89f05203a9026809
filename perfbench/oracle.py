"""DuckDB oracle comparison for the trace_batch workload.

The JVM side writes, under one directory, the reduced-size `events`
input, the Spark answers (`answers/<query>/*.parquet`) and the oracle
SQL the program declares for each query (`oracle_sql.json`). Here each
oracle runs in DuckDB over the same input and must equal the Spark
answer exactly: columns matched by name, rows compared as sorted
multisets, doubles by their exact repr.
"""
import json
import math
import os
import sys


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _rows(rel, cols):
    sel = ", ".join(f'"{c}"' for c in cols)
    return sorted(tuple(_cell(c) for c in r) for r in rel.project(sel).fetchall())


def compare(oracle_dir):
    """Return a list of mismatch messages (empty when every answer equals
    its oracle)."""
    import duckdb

    con = duckdb.connect()
    # runs after the JVM has exited, so every core is free
    con.execute(f"SET threads = {os.cpu_count()}")
    con.execute("SET memory_limit = '3GB'")
    for name in os.listdir(oracle_dir):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{oracle_dir}/{name}/*.parquet')")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = []
    for query, sql in sorted(oracles.items()):
        spark = con.sql(f"SELECT * FROM read_parquet('{oracle_dir}/answers/{query}/*.parquet')")
        oracle = con.sql(sql)
        s_cols, o_cols = sorted(spark.columns), sorted(oracle.columns)
        if s_cols != o_cols:
            problems.append(f"{query}: columns differ: spark {s_cols} oracle {o_cols}")
            continue
        got, want = _rows(spark, s_cols), _rows(oracle, o_cols)
        if got != want:
            extra = len(set(got) - set(want))
            missing = len(set(want) - set(got))
            problems.append(f"{query}: spark {len(got)} rows, oracle {len(want)} rows "
                            f"({extra} unexpected, {missing} missing)")
    return problems


if __name__ == "__main__":
    # usage: oracle.py <oracle dir>; prints one mismatch per line
    for msg in compare(sys.argv[1]):
        print(msg)
