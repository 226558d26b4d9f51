"""DuckDB oracle answers for the benchmark's queries, and the check of a
run's cold-pass results against them.

Answers are computed once per data directory (keyed by its content
checksum and the SQL text) and cached under `.bench_build/oracle`, outside
any timing. Results are compared with `tools/selfcheck.py`'s `compare`:
columns sorted by name, rows sorted, floats within 1e-3.
"""
import datetime
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import selfcheck  # noqa: E402  (the repository's oracle compare)


def data_checksum(data_dir):
    """Content checksum of a fixture directory. File names are left out, so
    a regenerated copy (Spark names its part files at random) with the same
    bytes has the same checksum."""
    lines = []
    for table in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, table)
        files = [path] if os.path.isfile(path) else [
            os.path.join(dp, n) for dp, _, ns in os.walk(path) for n in ns
            if n.endswith(".parquet")]
        digests = []
        for f in files:
            with open(f, "rb") as fh:
                digests.append(hashlib.sha256(fh.read()).hexdigest())
        lines.append(table + ":" + ",".join(sorted(digests)))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in selfcheck.TABLES:
        src = os.path.join(data_dir, t + ".parquet")
        pat = os.path.join(src, "*.parquet") if os.path.isdir(src) else src
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{pat}')")
    return con


def answers(data_dir, checksum, sql_by_name, cache_root):
    """name -> oracle DataFrame for every name with SQL, computing the ones
    not cached yet."""
    cache = os.path.join(cache_root, checksum[:16])
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(sql_by_name.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}.{key}.pkl")
        if not os.path.exists(path):
            con = con or _connect(data_dir)
            df = con.sql(sql).df()
            df.to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        out[name] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out


def _column(values, spark_type):
    """One result column shaped as pandas reads Spark's parquet output, so
    that selfcheck's normalisation treats both sides alike."""
    def num(v):
        return float(v) if v is not None else None
    if spark_type in ("double", "float") or spark_type.startswith("decimal"):
        return pd.Series([num(v) for v in values], dtype="float64")
    if spark_type == "date":
        return pd.Series([None if v is None else datetime.date.fromisoformat(v)
                          for v in values], dtype="object")
    if spark_type.startswith("timestamp"):
        return pd.Series(pd.to_datetime(values))
    if spark_type == "binary":
        return pd.Series([None if v is None else bytes.fromhex(v) for v in values],
                         dtype="object")
    if spark_type in ("tinyint", "smallint", "int", "bigint") and None not in values:
        return pd.Series(values, dtype="int64")
    return pd.Series(values, dtype="object")


def spark_frame(record):
    cols = record["columns"]
    rows = record["rows"]
    return pd.DataFrame({name: _column([r[i] for r in rows], t)
                         for i, (name, t) in enumerate(cols)},
                        columns=[c[0] for c in cols])


def check(cold_results_path, oracle):
    """name -> list of mismatch messages (empty when the result matches);
    queries without an oracle pass when they returned rows."""
    verdicts = {}
    with open(cold_results_path) as fh:
        for line in fh:
            rec = json.loads(line)
            name = rec["name"]
            if name not in oracle:
                verdicts[name] = [] if rec["rows"] else ["no rows"]
                continue
            try:
                verdicts[name] = selfcheck.compare(spark_frame(rec), oracle[name], name)
            except Exception as e:  # a compare that cannot run is a mismatch
                verdicts[name] = [f"compare failed: {e!r}"[:300]]
    return verdicts
