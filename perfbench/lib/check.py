"""Output checks. Each returns a list of mismatch messages; empty is good."""
import glob
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# queries whose result has one row per distinct value of a statistic of
# the input: a single row means the generated input is degenerate (q209:
# one component, so the fixpoint ends after two rounds)
MIN_ROWS = {"q209": 2}


def gate(out_dir, tables_dir, queries, passes):
    """Every query's cold result must equal its DuckDB oracle on the same
    generated tables: same row count and the same rows, compared order-
    insensitively over name-sorted columns as strings. Every warm pass
    must return the cold pass's row count. In traced passes the memo
    counters must have been readable, or the memo figures would read 0."""
    import duckdb
    bad = []
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tables_dir}/{t}.parquet'")
    cold = {o["name"]: o for o in passes[0]["ops"]}
    for q in queries:
        op = cold.get(q)
        if op is None or op.get("error"):
            bad.append(f"{q}: failed: {op and op.get('error')}")
            continue
        files = glob.glob(f"{out_dir}/results/{q}/*.parquet")
        if not files:
            bad.append(f"{q}: no result written")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        if len(got) != op["rows"]:
            bad.append(f"{q}: wrote {len(got)} rows, collected {op['rows']}")
        if len(got) < MIN_ROWS.get(q.split("@")[0], 1):
            bad.append(f"{q}: {len(got)} rows, the input is degenerate")
        if q.split("@")[0] not in oracles:
            bad.append(f"{q}: no oracle SQL")
            continue
        exp = con.sql(oracles[q.split("@")[0]]).df()
        if len(got) != len(exp):
            bad.append(f"{q}: {len(got)} rows, oracle {len(exp)}")
            continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            bad.append(f"{q}: columns {gc} != oracle {ec}")
            continue
        g = got[gc].astype(str).sort_values(by=gc, ignore_index=True)
        e = exp[ec].astype(str).sort_values(by=ec, ignore_index=True)
        if not g.equals(e):
            i = int((g != e).any(axis=1).idxmax())
            bad.append(f"{q}: rows differ from the oracle, first at {i}: "
                       f"{g.loc[i].to_dict()} != {e.loc[i].to_dict()}")
        for p in passes[1:]:
            for o in p["ops"]:
                if o["name"] == q and o.get("rows") != op["rows"]:
                    bad.append(f"{q}: pass {p['idx']} returned "
                               f"{o.get('rows')} rows, cold {op['rows']}")
    con.close()
    for p in passes:
        for o in p["ops"]:
            if o.get("memo_available") is False:
                bad.append(f"pass {p['idx']} {o['name']}: IndexMemo's "
                           f"counters could not be read")
    return bad


def ingest(out_dir, expect, passes):
    """Every phase of every pass writes exactly its expected count, the
    connector crawl opens exactly the expected pages, and the cold pass's
    sinks hold exactly the expected filenames."""
    bad = []
    want = {"empty": expect["empty"], "rerun": 0, "delta": expect["delta"],
            "connector": expect["connector"]}
    for p in passes:
        ops = {o["name"]: o for o in p["ops"]}
        for phase, n in want.items():
            o = ops.get(phase)
            if o is None or o.get("error"):
                bad.append(f"pass {p['idx']} {phase}: failed: "
                           f"{o and o.get('error')}")
            elif o["written"] != n:
                bad.append(f"pass {p['idx']} {phase}: wrote {o['written']}, "
                           f"expected {n}")
        c = ops.get("connector")
        if c and c.get("pages_opened") != expect["pages_opened"]:
            bad.append(f"pass {p['idx']} connector: opened "
                       f"{c.get('pages_opened')} pages, expected "
                       f"{expect['pages_opened']}")
    for name in ["sink_files", "connector_files"]:
        path = f"{out_dir}/{name}.txt"
        got = open(path).read().split("\n") if os.path.exists(path) else []
        got = [g for g in got if g]
        if got != expect[name]:
            extra = sorted(set(got) - set(expect[name]))[:3]
            missing = sorted(set(expect[name]) - set(got))[:3]
            bad.append(f"{name}: {len(got)} files, expected "
                       f"{len(expect[name])}; extra {extra}, "
                       f"missing {missing}")
    return bad
