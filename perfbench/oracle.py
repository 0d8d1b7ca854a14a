"""DuckDB oracle checks: the program's answers against an independent engine
over the same parquet files. Each check returns a list of failure lines."""
import datetime
import decimal
import json
import os

import duckdb


def norm(v):
    """A value in a form both engines agree on: numbers rounded to 6
    significant decimals (sums of decimals print differently), dates as ISO
    strings."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return round(float(v), 6)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, str):
        try:  # the JVM side passes decimals as plain strings
            return round(float(v), 6)
        except ValueError:
            return v
    return str(v)


def canon(columns, rows):
    """Column-name-sorted, row-sorted normalized values."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=repr)


def compare(name, got_cols, got_rows, want_cols, want_rows):
    gc, gr = canon(got_cols, got_rows)
    wc, wr = canon(want_cols, want_rows)
    if gc != wc:
        return [f"{name}: columns {gc} vs oracle {wc}"]
    if len(gr) != len(wr):
        return [f"{name}: {len(gr)} rows vs oracle {len(wr)}"]
    for a, b in zip(gr, wr):
        if a != b:
            return [f"{name}: first differing row {a} vs oracle {b}"]
    return []


def run_sql(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def file_list(paths):
    return "[" + ",".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def parquet_files(path):
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return [path]


def check_pipeline(c):
    """The derivative transform's output against its SQL over the input files."""
    t = c["transform"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {t['table']} AS SELECT * FROM read_parquet({file_list(t['files'])})")
    cols, rows = run_sql(con, t["sql"])
    return compare("transform", t["columns"], t["rows"], cols, rows)


def check_queries(c):
    """Every served answer against DuckDB over the slice files of the heads
    the answer was pinned to."""
    failures = []
    con = duckdb.connect()
    for q in c["queries"]:
        body = json.loads(q["body"])
        for name, head in body["state"].items():
            files = c["pins"][f"{name}@{head}"]
            con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                        f"SELECT * FROM read_parquet({file_list(files)}, union_by_name=true)")
        sql = q["sql"].replace("`", '"')
        want_cols, want_rows = run_sql(con, sql)
        data = body["data"]
        got_cols = list(data[0].keys()) if data else want_cols
        got_rows = [[r.get(k) for k in got_cols] for r in data]
        failures += compare(q["sql"][:60], got_cols, got_rows, want_cols, want_rows)
    return failures


def check_entries(c):
    """Operator outputs against each entry's oracle SQL."""
    failures = []
    con = duckdb.connect()
    for name, path in c["tables"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({file_list(parquet_files(path))})")
    for entry, e in c["entries"].items():
        cols, rows = run_sql(con, e["sql"])
        failures += compare(entry, e["columns"], e["rows"], cols, rows)
    return failures


def check(workload, checks):
    if workload == "pipeline_bulk":
        return check_pipeline(checks) + check_entries(checks["graph"])
    if workload == "query_mixed":
        return check_queries(checks)
    return []
