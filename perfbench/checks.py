"""Output checks of a benchmark run against DuckDB, outside every timed window.

lanes():     each lane's output (written once in set-up, next to an
             oracle_sql.json as graft.Verify writes it) against its DuckDB
             oracle twin over the same tables, by the repository's own
             oracle gate, tools/check_oracle.py.
reference(): the reference stages' results against DuckDB over the
             generated CSV: row counts, inferred schema, group means,
             filter count, sort order, matrix width, both pipelines' result.
Both return {operation name: reason} for every mismatch.
"""
import contextlib
import io
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import check_oracle  # noqa: E402


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def lanes(out_dir, data_dir, ops):
    """`ops` are the run's operations as "<module>.<lane>"."""
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check_oracle.main(data_dir, out_dir)
    lines = report.getvalue().splitlines()
    if not lines or not lines[-1].startswith("== "):
        raise RuntimeError("check_oracle printed no summary")
    module_of = {op.rsplit(".", 1)[1]: op for op in ops}
    bad = {}
    for line in lines:
        if line.startswith("  FAIL "):
            name, why = line[len("  FAIL "):].split(": ", 1)
            bad[module_of.get(name, name)] = why[:200]
    return bad


EXPECTED_SCHEMA = {"Pregnancies": "int", "Glucose": "int", "BloodPressure": "int",
                   "SkinThickness": "int", "Insulin": "int", "BMI": "double",
                   "DiabetesPedigreeFunction": "double", "Age": "int", "Outcome": "int"}


def _close(a, b):
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def reference(c):
    con = _connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_csv('{c['csv']}/*.csv', header=true)")
    one = lambda q: con.execute(q).fetchone()  # noqa: E731
    n, max_age, min_age = one("SELECT count(*), max(Age), min(Age) FROM t")
    bad = {}
    if n != c["rows"] or c["read_rows"] != n:
        bad["stages.read"] = f"rows {c['read_rows']} vs {n}"
    elif c["read_schema"] != EXPECTED_SCHEMA:
        bad["stages.read"] = f"schema {c['read_schema']}"
    if c["write_rows"] != n:
        bad["stages.write"] = f"rows written {c['write_rows']} vs {n}"
    exp = dict(con.execute("SELECT Outcome::VARCHAR, avg(Glucose) FROM t GROUP BY 1").fetchall())
    got = c["group_mean_glucose"]
    if set(got) != set(exp) or not all(_close(got[k], exp[k]) for k in exp):
        bad["stages.group"] = f"means {got} vs {exp}"
    if not (c["sort_ordered"] and c["sort_rows"] == n and c["sort_first_age"] == max_age
            and c["sort_last_age"] == min_age):
        bad["stages.sort"] = (f"ordered={c['sort_ordered']} rows={c['sort_rows']} "
                              f"first={c['sort_first_age']} last={c['sort_last_age']}")
    (nf,) = one("SELECT count(*) FROM t WHERE Glucose > 100")
    if c["filter_rows"] != nf:
        bad["stages.filter"] = f"rows {c['filter_rows']} vs {nf}"
    if c["to_np_width"] != [len(EXPECTED_SCHEMA)] or c["to_np_rows"] != n:
        bad["stages.to_np"] = f"width {c['to_np_width']} rows {c['to_np_rows']}"
    exp = con.execute("SELECT Outcome::VARCHAR, avg(Age), avg(Glucose) FROM t WHERE Glucose > 100 "
                      "GROUP BY 1 ORDER BY 1").fetchall()
    for stage in ("lazy_pipeline", "eager_pipeline"):
        got = c[stage]
        if len(got) != len(exp) or not all(g[0] == e[0] and _close(g[1], e[1]) and
                                           _close(g[2], e[2]) for g, e in zip(got, exp)):
            bad[f"stages.{stage}"] = f"{got} vs {exp}"
    return bad
