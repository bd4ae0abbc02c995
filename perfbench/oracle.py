"""DuckDB oracle check for the corpus_sample rows.

Each pinned row's result, written as parquet by the harness's output pass,
is compared with its `SparkEntry.oracleSql` twin run by DuckDB over the same
tables: columns compared by name, rows as sorted multisets, floats rounded
to 9 places. Rows without an oracle twin only have to have produced output.
"""
import json
import os

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(r):
        out = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            out.append((v is None, str(type(v)), str(v)))
        return out

    return sorted(key(r) for r in rows)


def compare(con, name, sql, out_dir):
    huge = [c for c, t, *_ in con.execute(f"DESCRIBE ({sql})").fetchall() if "HUGEINT" in str(t).upper()]
    if huge:
        return f"uncast HUGEINT column(s) {huge}"
    exp = con.execute(sql)
    exp_cols = [d[0] for d in exp.description]
    exp_rows = exp.fetchall()
    got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
    got_cols = [d[0] for d in got.description]
    got_rows = got.fetchall()
    if sorted(exp_cols) != sorted(got_cols):
        return f"columns oracle={sorted(exp_cols)} engine={sorted(got_cols)}"
    ce, cg = canon(exp_rows, exp_cols), canon(got_rows, got_cols)
    if len(ce) != len(cg):
        return f"rows oracle={len(ce)} engine={len(cg)}"
    bad = [i for i, (a, b) in enumerate(zip(ce, cg)) if a != b]
    if bad:
        return f"{len(bad)}/{len(ce)} rows differ; first oracle={ce[bad[0]]} engine={cg[bad[0]]}"
    return None


def check(out_dir, sf_dir):
    """One check record per pinned row that the output pass wrote or tried."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    checks = []
    names = sorted(n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n)))
    for name in sorted(set(names) | set(sqls)):
        if not os.path.isdir(os.path.join(out_dir, name)):
            checks.append({"name": f"oracle {name}", "ok": False, "detail": "no output written"})
        elif name not in sqls:
            checks.append({"name": f"output {name}", "ok": True, "detail": "no oracle twin; output written"})
        else:
            try:
                err = compare(con, name, sqls[name], out_dir)
            except duckdb.Error as e:
                err = f"error {e}"
            checks.append({"name": f"oracle {name}", "ok": err is None, "detail": err or "match"})
    con.close()
    return checks
