"""Output checks, run after the timed phase. A wrong result counts as a
failed op and is named in `failures`; nothing is filtered out.

- entries: each entry's result, written during set-up, against its
  `SparkEntry.oracleSql` answer from DuckDB, compared column-sorted and
  positionally: exact for integers and strings, bit-exact for floats.
- wire statements: against a closed form, a DuckDB answer to the same
  question, or the expected first column; at the end every acknowledged
  INSERT must read back from its connection's table.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def _connect(data_dir, cache_dir):
    con = duckdb.connect(config={"temp_directory": os.path.join(cache_dir, "tmp")})
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _oracle(con, sql, cache_dir):
    """DuckDB's answer, cached per SQL text in a directory kept for one set
    of tables."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    df.to_pickle(path)
    return df


def _frame_diff(exp, got):
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns exp={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows exp={len(exp)} got={len(got)}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            ef, gf = e.astype(float).values, g.astype(float).values
            eq = (ef == gf) | (np.isnan(ef) & np.isnan(gf))
        elif str(e.dtype).startswith("datetime") or str(g.dtype).startswith("datetime"):
            eq = (pd.to_datetime(e).astype("datetime64[us]").values ==
                  pd.to_datetime(g).astype("datetime64[us]").values)
        else:
            eq = e.astype(str).values == g.astype(str).values
        if not eq.all():
            return f"column {c} differs at row {int(np.argmin(eq))}"
    return None


def _cell_ok(cell, exp):
    if exp is None or cell is None:
        return cell is None and exp is None
    if isinstance(exp, str):
        return cell == exp
    try:
        return float(cell) == float(exp)
    except ValueError:
        return False


def _rows_diff(rows, exp):
    if len(rows) != len(exp):
        return f"rows exp={len(exp)} got={len(rows)}"
    for i, (r, e) in enumerate(zip(rows, exp)):
        if len(r) != len(e) or not all(_cell_ok(c, x) for c, x in zip(r, e)):
            return f"row {i}: exp={list(e)} got={r}"
    return None


def _stmt_diff(op, con, cache_dir):
    exp, rows = op["expect"], op["rows"]
    if "rows" in exp:
        return _rows_diff(rows, exp["rows"])
    if "duckdb" in exp:
        want = _oracle(con, exp["duckdb"], cache_dir)
        return _rows_diff(rows, [tuple(None if pd.isna(v) else v for v in r)
                                 for r in want.itertuples(index=False)])
    col0 = [r[0] for r in rows]
    if "col0" in exp:
        return None if col0 == exp["col0"] else f"first column {col0}"
    if "col0_has" in exp:
        missing = set(exp["col0_has"]) - set(col0)
        return f"missing {sorted(missing)}" if missing else None
    return None  # INSERT: acknowledged with OK, read back at the end


def check(jvm, data_dir, run_dir, cache_dir):
    con = _connect(data_dir, cache_dir)
    timed = [o for o in jvm["ops"] if o["phase"] == "timed"]
    failures, bad_ops, replay_failures = [], set(), []
    result_rows = {}
    if jvm["workload"] == "entries_tpch":
        wrong = dict(jvm["check_errors"])
        for name, sql in sorted(jvm["oracle_sql"].items()):
            if name in wrong:
                continue
            got = pd.read_parquet(os.path.join(run_dir, "check", name))
            result_rows[name] = len(got)
            diff = _frame_diff(_oracle(con, sql, cache_dir), got)
            if diff:
                wrong[name] = diff
        for name, why in sorted(wrong.items()):
            failures.append(f"{name}: {why[:300]}")
        for o in timed:
            if o["error"] or o["template"] in wrong:
                bad_ops.add(o["op"])
    else:
        for o in jvm["ops"]:
            diff = o["error"] or _stmt_diff(o, con, cache_dir)
            if not diff:
                continue
            msg = f"{o['op']} [{o['sql'][:120]}]: {str(diff)[:300]}"
            if o["phase"] == "replay":
                replay_failures.append(msg)
            else:
                bad_ops.add(o["op"])
                failures.append(msg)
        for rb in jvm["read_back"]:
            acked = [[str(k), str(v)] for k, v in rb["acked"]]
            if rb["error"] or rb["rows"] != acked:
                missing = {int(a[0]) for a in acked if a not in rb["rows"]}
                failures.append(f"read-back conn {rb['conn']}: {rb['error'] or ''} "
                                f"{len(missing)} of {len(acked)} acknowledged INSERTs missing, "
                                f"{len(rb['rows'])} rows read")
                bad_ops.update(o["op"] for o in timed if o["template"] == "insert"
                               and o["op"].startswith(f"c{rb['conn']}/")
                               and o["expect"]["key"] in missing)
    con.close()
    return {"attempted": len(timed), "failed": len(bad_ops), "failures": failures,
            "replay_failures": replay_failures, "result_rows": result_rows}
