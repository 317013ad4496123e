"""Check dashboard panel results against DuckDB.

Each panel's first result (parquet, written by the engine) must equal
its `SparkEntry.oracleSql` statement run by DuckDB over the same
tables, under the repo's compare rule (`scripts/check.py`): columns
sorted by name, rows sorted, cells compared as exact-value strings, and
no DECIMAL or int32 output column on either side.
"""
import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def banned_fields(schema):
    return [f"{f.name}:{f.type}" for f in schema
            if pa.types.is_decimal(f.type) or f.type == pa.int32()]


def canon(tbl):
    cols = sorted(tbl.column_names)
    pycols = [tbl.column(c).to_pylist() for c in cols]

    def cell(v):
        if v is None:
            return "<NULL>"
        if isinstance(v, float):
            return "<NaN>" if v != v else repr(v)
        return str(v)

    return cols, sorted(tuple(cell(c[i]) for c in pycols) for i in range(tbl.num_rows))


def check(data_dir, tables, panel_dir, oracle_sql, tmp_dir):
    """{panel name: None if it matches, else the reason it does not}."""
    con = duckdb.connect(config={"temp_directory": tmp_dir})
    for t in tables:
        path = os.path.join(data_dir, t + ".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        parts = sorted(glob.glob(os.path.join(panel_dir, name, "*.parquet")))
        if not parts:
            verdicts[name] = "no result written"
            continue
        got = pa.concat_tables([pq.read_table(p) for p in parts])
        try:
            exp = con.sql(sql).arrow()
        except Exception as e:  # the oracle itself failing is a mismatch too
            verdicts[name] = f"oracle error: {e}"
            continue
        bad = banned_fields(got.schema) + banned_fields(exp.schema)
        gc, gr = canon(got)
        ec, er = canon(exp)
        if bad:
            verdicts[name] = f"banned output types {bad}"
        elif gc != ec:
            verdicts[name] = f"columns {gc} != {ec}"
        elif gr != er:
            verdicts[name] = f"values differ ({len(gr)} vs {len(er)} rows)"
        else:
            verdicts[name] = None
    return verdicts
