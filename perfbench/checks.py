"""Output checks, none of them timed. Each returns (attempted, failed) over
the operations the engine ran, warmup included: a failed, wrong or
unverifiable operation counts as failed.

- sql_reads: every query instance must match DuckDB running the same SQL
  over the source parquet, compared by tools/check_oracle.py's rule
  (columns by name, rows in emitted order); every repeat of an instance
  must return what its first execution returned.
- delta_dml: every commit raises the table version by exactly 1, every
  read-back equals the benchmark's own row model, and so does the final
  per-partition checksum.
- curation_batch: every operator's output hash-matches its registered
  DuckDB oracle (SparkEntry.oracleSql) over the generated corpus.
"""
import json
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import gen
from gen import load_json

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracle import rows_of  # noqa: E402  (the repository's compare rule)


def _same(cols_a, rows_a, cols_b, rows_b):
    return rows_of(cols_a, rows_a) == rows_of(cols_b, rows_b)


def duck_sql(sql):
    """Spark SQL of the read templates in DuckDB's dialect."""
    return sql.replace("element_at(", "list_extract(")


def _duck(dir_, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{dir_}/{t}.parquet')")
    return con


def check_reads(inputs, out, ops):
    """sql_reads: returns (attempted, failed, bad instance ids)."""
    res = load_json(os.path.join(out, "reads_out.json"))
    insts = {r["id"]: r for r in load_json(os.path.join(inputs, "reads.json"))}
    con = _duck(os.path.join(inputs, "tables"), gen.TABLES)
    bad = set()
    for iid, got in res["results"].items():
        q = con.execute(duck_sql(insts[iid]["sql"].format(**{t: t for t in gen.TABLES})))
        want_cols = [c[0] for c in q.description]
        got_rows = [tuple(r) for r in json.loads(got)]
        # the engine's column names are the template's aliases, in order
        if not _same(want_cols, got_rows, want_cols, q.fetchall()):
            bad.add(iid)
    reads = [o for o in ops if o["kind"] == "read"]
    failed = sum(1 for o in reads if not o["ok"])
    for iid, (n, mismatched) in res["execs"].items():
        failed += n if iid in bad else mismatched
    return len(reads), failed, sorted(bad)


def _model_base(inputs):
    cols = ["l_orderkey", "l_linenumber", "l_shipmonth", "l_quantity", "l_partkey"]
    return pq.read_table(os.path.join(inputs, "tables", "lineitem.parquet"), columns=cols) \
        .to_pandas(), cols


def _readback(df, s):
    sel = df[(df.l_orderkey >= s["lo"]) & (df.l_orderkey <= s["hi"])] if s["kind"] == "append" \
        else df[df.l_shipmonth == s["month"]]
    if len(sel) == 0:
        return [(0, None, None, None)]
    return [(len(sel), float(sel.l_quantity.sum()), int(sel.l_orderkey.sum()),
             int(sel.l_linenumber.sum()))]


def apply_statement(df, s, inputs, cols):
    """The row model: `df` after statement `s`."""
    k = s["kind"]
    if k == "append":
        new = pq.read_table(os.path.join(inputs, "dml", s["file"]), columns=cols).to_pandas()
        return pd.concat([df, new], ignore_index=True)
    if k == "update":
        m = (df.l_shipmonth == s["month"]) & (df.l_linenumber == s["line"])
        df = df.copy()
        df.loc[m, "l_quantity"] += s["delta"]
        return df
    if k == "delete":
        return df[~((df.l_shipmonth == s["month"]) & (df.l_orderkey % s["mod"] == s["rem"]))]
    src = pq.read_table(os.path.join(inputs, "dml", s["file"]), columns=cols).to_pandas()
    key = ["l_shipmonth", "l_orderkey", "l_linenumber"]
    j = df.merge(src[key + ["l_quantity", "l_partkey"]], on=key, how="left",
                 suffixes=("", "_s"), indicator=True)
    hit = j["_merge"] == "both"
    j.loc[hit, "l_quantity"] = j.loc[hit, "l_quantity_s"]
    j.loc[hit, "l_partkey"] = j.loc[hit, "l_partkey_s"].astype("int64")
    kept = j[cols]
    ins = src.merge(df[key], on=key, how="left", indicator=True)
    return pd.concat([kept, ins[ins["_merge"] == "left_only"][cols]], ignore_index=True)


def changed_rows(before, after, s):
    """Rows a statement changed, for write amplification."""
    k = s["kind"]
    if k in ("append", "delete"):
        return abs(len(after) - len(before))
    if k == "update":
        return int(((before.l_shipmonth == s["month"]) & (before.l_linenumber == s["line"])).sum())
    return 1000  # every merge source row is updated or inserted


def check_dml(inputs, out, ops):
    """delta_dml: returns (attempted, failed, rows changed per statement,
    live file count each operation saw)."""
    res = load_json(os.path.join(out, "dml_out.json"))
    df, cols = _model_base(inputs)
    stmts = {s["id"]: s for s in load_json(os.path.join(inputs, "dml.json"))}
    failed, changed, prev, live = 0, {}, None, res["initial_live_files"]
    files = {}
    for e in res["statements"]:
        s = stmts[e["id"]]
        new = apply_statement(df, s, inputs, cols)
        changed[e["id"]] = changed_rows(df, new, s)
        df = new
        if not e["ok"] or e["after"] != e["before"] + 1 or (prev is not None and e["before"] != prev):
            failed += 1
        prev = e["after"]
        files[e["id"]] = live
        live += e["adds"] - e["removes"]
        files[e["id"] + "-read"] = live
        names = ["n", "qty", "keys", "lines"]
        if e["readback"] is None or not _same(
                names, [tuple(r) for r in json.loads(e["readback"])], names, _readback(df, s)):
            failed += 1
    want = (df.groupby("l_shipmonth")
            .agg(n=("l_orderkey", "size"), qty=("l_quantity", "sum"), keys=("l_orderkey", "sum"),
                 lines=("l_linenumber", "sum"), parts=("l_partkey", "sum"))
            .reset_index().sort_values("l_shipmonth"))
    names = ["l_shipmonth", "n", "qty", "keys", "lines", "parts"]
    want_rows = [(int(r[0]), int(r[1]), float(r[2]), int(r[3]), int(r[4]), int(r[5]))
                 for r in want[names].itertuples(index=False)]
    final_ok = _same(names, [tuple(r) for r in json.loads(res["final"])], names, want_rows)
    attempted = len([o for o in ops if o["kind"] != "read"]) + 1
    failed += 0 if final_ok else 1
    return attempted, failed, changed, files


def check_curation(inputs, out, ops):
    """curation_batch: returns (attempted, failed, bad operator names)."""
    oracle = load_json(os.path.join(out, "oracle_sql.json"))
    con = duckdb.connect()
    corpus = os.path.join(inputs, "corpus")
    for f in sorted(os.listdir(corpus)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{corpus}/{f}')")
    bad = set()
    for name, sql in oracle.items():
        try:
            t = pq.read_table(os.path.join(out, "curation", name))
            q = con.execute(sql)
            got = list(zip(*[t.column(c).to_pylist() for c in t.column_names]))
            if not _same(t.column_names, got, [c[0] for c in q.description], q.fetchall()):
                bad.add(name)
        except Exception as e:  # an unreadable output is a wrong output
            print(f"curation check {name}: {type(e).__name__}: {e}", file=sys.stderr)
            bad.add(name)
    failed = sum(1 for o in ops if not o["ok"] or o["kind"] in bad)
    return len(ops), failed, sorted(bad)


def corpus_docs(inputs):
    return pq.ParquetFile(os.path.join(inputs, "corpus", "documents.parquet")).metadata.num_rows
