"""Correctness checks, run after the timed region.

`pump_sink` compares a pump sink with the generator's model as a multiset
per routed table; `analytics` compares each mix result with its DuckDB
oracle using the rules of tools/oracle_check.py.
"""
import collections
import glob
import importlib.util
import json
import os

import duckdb

from techlog_gen import COLUMNS

_SELECT = ", ".join(
    "strftime(EventTime, '%Y-%m-%d %H:%M:%S.%f')" if c == "EventTime"
    else "CAST(EventDate AS VARCHAR)" if c == "EventDate" else c for c in COLUMNS)


def sink_rows(sink):
    """{table: [(batch_id, row tuple), ...]} read from a pump sink, plus
    the number of rows whose always-null columns are not null."""
    con = duckdb.connect()
    out, non_null = {}, 0
    for tdir in sorted(glob.glob(os.path.join(sink, "*"))):
        if not glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True):
            continue
        src = f"read_parquet('{tdir}/**/*.parquet', hive_partitioning = true)"
        rows = con.execute(f"SELECT CAST(batch_id AS BIGINT), {_SELECT}, "
                           f"ExceptionType IS NOT NULL OR ErrorText IS NOT NULL FROM {src}").fetchall()
        out[os.path.basename(tdir)] = [(r[0], tuple(r[1:-1])) for r in rows]
        non_null += sum(1 for r in rows if r[-1])
    return out, non_null


def compare_rows(got, expected):
    """(missing, unexpected) between two row multisets. A duplicated
    row is unexpected; a wrong row is one missing and one unexpected."""
    g, e = collections.Counter(got), collections.Counter(expected)
    return sum((e - g).values()), sum((g - e).values())


def pump_sink(sink, expected):
    """(attempted, failed, detail, rows per batch id) for one pump sink
    against the model {table: [row, ...]}. Attempted counts expected
    rows; failed counts missing, duplicated, wrong and unexpected rows."""
    got, non_null = sink_rows(sink)
    per_batch = collections.Counter(b for rows in got.values() for b, _ in rows)
    attempted = sum(len(v) for v in expected.values())
    failed, detail = non_null, {}
    for table in sorted(set(got) | set(expected)):
        missing, extra = compare_rows([r for _, r in got.get(table, [])], expected.get(table, []))
        failed += missing + extra
        if missing or extra:
            detail[table] = {"missing": missing, "unexpected": extra}
    if non_null:
        detail["non_null_error_columns"] = non_null
    return attempted, failed, detail, per_batch


def _oracle_check(root):
    """tools/oracle_check.py of the checkout, imported unchanged."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def analytics(root, sf_dir, results):
    """(attempted, failed, detail): each mix result in `results` against
    its oracle SQL run by DuckDB over the parquet tables in `sf_dir`."""
    oc = _oracle_check(root)
    con = duckdb.connect()
    for t in oc.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    names = sorted(d for d in os.listdir(results) if os.path.isdir(os.path.join(results, d)))
    detail = {}
    for name in names:
        files = glob.glob(os.path.join(results, name, "*.parquet"))
        spark_df = oc.pd.concat([oc.pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            if len(spark_df) == 0:
                detail[name] = ["no oracle and no rows"]
            continue
        try:
            rel = con.sql(oracle[name])
            problems = [f"oracle emits HUGEINT in {c}" for c, t in zip(rel.columns, rel.types)
                        if "HUGEINT" in str(t).upper()]
            problems += oc.compare(name, spark_df, rel.df())
        except duckdb.Error as e:
            problems = [f"oracle sql error: {e}"]
        if problems:
            detail[name] = problems
    return len(names), len(detail), detail
