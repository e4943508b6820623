"""Output checks of the benchmark, computed apart from the program.

Analytics: each query must equal its DuckDB `oracleSql` over the same
fixture tables, under tools/check.py's strict canonicalization
(`fetch`/`norm_cell`: columns sorted by name, type-tagged cells, rows in
result order). A query without an oracle fails the check.

Landing: DuckDB replays the generated inputs to the final upsert, cdc
(serving `op != 'D'`) and rollup tables, to each load's LoadReport.rows, and
to the rows the windowed stream must emit.
"""
import importlib.util
import os

import duckdb

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check)


def _con(data):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def analytics(data, work, recs):
    con = _con(data)
    problems = []
    for r in (r for r in recs if r["kind"] == "oracle"):
        name, sql = r["name"], r["sql"]
        files = sorted(f"{work}/out/{name}/{f}" for f in os.listdir(f"{work}/out/{name}")
                       if f.endswith(".parquet")) if os.path.isdir(f"{work}/out/{name}") else []
        if not files:
            problems.append(f"{name}: no output")
            continue
        rel = f"read_parquet({files!r})"
        try:
            if sql is None:
                problems.append(f"{name}: no oracle")
                continue
            hc = check.hugeint_cols(con, sql)
            if hc:
                problems.append(f"{name}: oracle emits HUGEINT columns {hc}")
                continue
            sc, srows = check.fetch(con, f"SELECT * FROM {rel}")
            dc, drows = check.fetch(con, sql)
        except Exception as e:  # an oracle error is a failed check, not a crash
            problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if sc != dc:
            problems.append(f"{name}: columns {sc} != {dc}")
        elif srows != drows:
            diff = sum(a != b for a, b in zip(srows, drows)) + abs(len(srows) - len(drows))
            problems.append(f"{name}: {diff} of {len(drows)} rows differ")
    return problems


def landing(data, recs):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    d = f"{data}/delta"
    k = gen.K
    problems = []
    final = [r for r in recs if r["kind"] == "drain"][-1]
    loads = [r for r in recs if r["kind"] == "op" and r["type"] == "load"]

    def union(mode, upto):
        return " UNION ALL ".join([f"SELECT * FROM '{data}/standing/{mode}.parquet'"] + [
            f"SELECT * FROM '{d}/{mode}_{b}.parquet'" for b in range(1, upto + 1)])

    def upsert(upto):
        return f"""SELECT k, arg_max(v, ver) v, max(ver) ver, arg_max(amount, ver) amount
                   FROM ({union('upsert', upto)}) GROUP BY k"""

    def cdc(upto):
        return f"""SELECT k, arg_max(v, seq) v, max(seq) seq, arg_max(op, seq) op
                   FROM ({union('cdc', upto)}) GROUP BY k"""

    def rollup(upto):
        deltas = " UNION ALL ".join(
            f"SELECT g, 1 n, amount total, amount lo, amount hi FROM '{d}/rollup_{b}.parquet'"
            for b in range(1, upto + 1))
        return f"""SELECT g, sum(n)::BIGINT n, sum(total)::BIGINT total, min(lo) lo, max(hi) hi
                   FROM (SELECT * FROM '{data}/standing/rollup.parquet' UNION ALL {deltas})
                   GROUP BY g"""

    expect = {}
    for b in range(1, k + 1):
        for mode, q in (("upsert", upsert), ("cdc", cdc), ("rollup", rollup)):
            expect[f"{mode}/{b}"] = con.execute(f"SELECT count(*) FROM ({q(b)})").fetchone()[0]
    for r in loads:
        if r["ok"] and r.get("rows") != expect[r["name"]]:
            problems.append(f"load {r['name']} round {r['round']}: LoadReport.rows "
                            f"{r.get('rows')} != {expect[r['name']]}")

    def same(label, got, want, cols):
        order = ", ".join(cols)
        g = con.execute(f"SELECT {order} FROM ({got}) ORDER BY {order}").fetchall()
        w = con.execute(f"SELECT {order} FROM ({want}) ORDER BY {order}").fetchall()
        if g != w:
            problems.append(f"{label}: {len(g)} rows != expected {len(w)} "
                            f"({sum(a != b for a, b in zip(g, w))} differ)")

    same("final upsert table", f"SELECT * FROM '{final['upsert']}/*.parquet'", upsert(k),
         ["k", "v", "ver", "amount"])
    same("final cdc table (serving op != 'D')",
         f"SELECT * FROM '{final['cdc']}/*.parquet' WHERE op <> 'D'",
         f"SELECT * FROM ({cdc(k)}) WHERE op <> 'D'", ["k", "v", "seq"])
    same("final rollup table", f"SELECT * FROM '{final['rollup']}/*.parquet'", rollup(k),
         ["g", "n", "total", "lo", "hi"])
    # append-mode windows are emitted once the watermark (max event time
    # seen minus the delay) passes their end
    w = gen.STREAM_WINDOW
    same("stream emitted rows", f"""SELECT ws::TIMESTAMP ws, event_type, n, total, top
                                     FROM '{final['sink']}/*.parquet'""", f"""
        WITH ev AS (SELECT ts::TIMESTAMP ts, event_type, amount FROM '{data}/stream/*.parquet'),
        wm AS (SELECT max(ts) - INTERVAL '{gen.STREAM_DELAY}' AS wm FROM ev)
        SELECT time_bucket(INTERVAL '{w}', ts) ws, event_type, count(*) n,
               sum(amount) total, max(amount) top
        FROM ev GROUP BY 1, 2
        HAVING time_bucket(INTERVAL '{w}', ts) + INTERVAL '{w}' <= (SELECT wm FROM wm)""",
         ["ws", "event_type", "n", "total", "top"])
    return problems
