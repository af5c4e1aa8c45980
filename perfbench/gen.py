"""Seeded input generator for the benchmark.

Everything a run feeds the engine comes from here: the ten sf0.1-shaped
tables, the curation corpus, the templated read queries and the DML
statement stream. The same seed gives byte-identical files; the engine only
ever sees the files.

Shapes follow the repository's synthetic sf0.1 fixture (same table and
column names, same row counts), with three deliberate differences: dates are
DATE and event times are epoch seconds (so both engines compare them
exactly), `lineitem` carries its partition column `l_shipmonth` and `orders`
carries `o_orderyear`.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the fixture tables
SF01_ROWS = {"region": 5, "nation": 25, "supplier": 1000, "customer": 15000,
             "part": 20000, "orders": 150000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# the fixture's document vocabulary (31 words incl. the planted-dup marker)
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DATE0 = np.datetime64("1995-01-01")
DAYS = 365 * 7  # 1995 .. 2001
EMB_DIM = 64

# key ranges kept apart so appended and merged rows never collide with
# the base table or with each other
APPEND_KEY_BASE = 10_000_000
MERGE_KEY_BASE = 20_000_000
BATCH_ROWS = 1000


def _rng(seed, stream):
    """Independent generator per named stream: adding a stream never shifts
    the values another stream draws."""
    return np.random.default_rng([int(seed), sum(map(ord, stream)) * 7919 + len(stream)])


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[i:i + ln]))
        i += ln
    return out


def line_rows(rng, ok, ln, ship):
    """Line-item columns for given keys and ship dates."""
    n = len(ok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": np.asarray(ok, np.int64),
        "l_partkey": rng.integers(0, SF01_ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, SF01_ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": np.asarray(ln, np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ship,
        "l_shipmonth": (ship.astype("datetime64[M]").astype(np.int64) % 12 + 1).astype(np.int32),
    }


def lineitem_columns(rng, orderkeys, orderdates):
    """Line items for the given orders: 1..7 lines each, TPC-H style."""
    nlines = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, nlines)
    starts = np.cumsum(nlines) - nlines
    ln = np.arange(len(ok)) - np.repeat(starts, nlines) + 1
    ship = np.repeat(orderdates, nlines) + rng.integers(1, 122, len(ok)).astype("timedelta64[D]")
    return line_rows(rng, ok, ln, ship)


def lineitem_table(cols):
    return pa.table({k: (pa.array(v, pa.date32()) if k == "l_shipdate" else v)
                     for k, v in cols.items()})


def make_tables(seed, out):
    """The ten sf0.1-shaped tables as one parquet file each."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "tables")
    n = SF01_ROWS
    _write(pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
           f"{out}/nation.parquet")
    _write(pa.table({"c_custkey": np.arange(n["customer"], dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                     "c_nationkey": r.integers(0, 25, n["customer"]).astype(np.int32),
                     "c_acctbal": _money(r, -999, 9999, n["customer"]),
                     "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n["customer"])]}),
           f"{out}/customer.parquet")
    _write(pa.table({"s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                     "s_nationkey": r.integers(0, 25, n["supplier"]).astype(np.int32),
                     "s_acctbal": _money(r, -999, 9999, n["supplier"])}),
           f"{out}/supplier.parquet")
    _write(pa.table({"p_partkey": np.arange(n["part"], dtype=np.int64),
                     "p_name": [f"part {i}" for i in range(n["part"])],
                     "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n["part"])],
                     "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                         r.integers(0, 6, n["part"])],
                     "p_size": r.integers(1, 51, n["part"]).astype(np.int32),
                     "p_retailprice": _money(r, 900, 2000, n["part"])}),
           f"{out}/part.parquet")
    okeys = np.arange(n["orders"], dtype=np.int64)
    odate = DATE0 + r.integers(0, DAYS - 150, n["orders"]).astype("timedelta64[D]")
    _write(pa.table({"o_orderkey": okeys,
                     "o_custkey": r.integers(0, n["customer"], n["orders"]).astype(np.int64),
                     "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n["orders"])],
                     "o_totalprice": _money(r, 1000, 400000, n["orders"]),
                     "o_orderdate": pa.array(odate, pa.date32()),
                     "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n["orders"])],
                     "o_orderyear": (odate.astype("datetime64[Y]").astype(np.int64) + 1970).astype(np.int32)}),
           f"{out}/orders.parquet")
    _write(lineitem_table(lineitem_columns(r, okeys, odate)), f"{out}/lineitem.parquet")
    ne = n["events"]
    _write(pa.table({"event_id": np.arange(ne, dtype=np.int64),
                     "ts": np.sort(r.integers(1_704_067_200, 1_704_067_200 + 86400 * 30, ne)).astype(np.int64),
                     "user_id": r.integers(0, 1500, ne).astype(np.int64),
                     "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
                     "value": _money(r, 0, 560, ne),
                     "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]}),
           f"{out}/events.parquet")
    _write_corpus(r, out, n["documents"], n["embeddings"], dup_frac=0.05)


def _write_corpus(r, out, ndocs, nvecs, dup_frac):
    """`documents` with a planted share of near-duplicates, and `embeddings`
    (64-dim, 10 labels) keyed by the first `nvecs` doc ids."""
    texts = _texts(r, ndocs)
    ndup = int(ndocs * dup_frac)
    dup_at = r.choice(np.arange(1, ndocs), ndup, replace=False)
    for i in np.sort(dup_at):
        src = texts[int(r.integers(0, i))].split()
        for j in r.integers(0, len(src), max(1, len(src) // 20)):
            src[j] = VOCAB[int(r.integers(0, len(VOCAB)))]
        texts[i] = " ".join(src + ["dup"])
    _write(pa.table({"doc_id": np.arange(ndocs, dtype=np.int64),
                     "text": texts,
                     "lang": np.array(LANGS)[r.integers(0, len(LANGS), ndocs)],
                     "source": [f"src{i % 20}" for i in range(ndocs)],
                     "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
           f"{out}/documents.parquet")
    labels = r.integers(0, 10, nvecs)
    centers = r.normal(0, 1, (10, EMB_DIM))
    emb = (centers[labels] + r.normal(0, 0.8, (nvecs, EMB_DIM))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({"vec_id": np.arange(nvecs, dtype=np.int64),
                     "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                     "label": labels.astype(np.int32)}),
           f"{out}/embeddings.parquet")


def make_corpus(seed, out, ndocs, dup_frac):
    """The curation corpus: `documents` grown to `ndocs` with `dup_frac`
    planted near-duplicates, `embeddings` grown in proportion."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "corpus")
    nvecs = ndocs * SF01_ROWS["embeddings"] // SF01_ROWS["documents"]
    _write_corpus(r, out, ndocs, nvecs, dup_frac)


# ---- sql_reads: templated queries --------------------------------------

READ_TEMPLATES = {
    # star join; partition pruning on both fact tables
    "star_join": """SELECT n.n_name, count(*) AS n_lines,
  sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS gross_cents
FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey
JOIN {customer} c ON o.o_custkey = c.c_custkey
JOIN {nation} n ON c.c_nationkey = n.n_nationkey
JOIN {region} r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{rname}' AND o.o_orderyear = {year} AND l.l_shipmonth = {month}
GROUP BY n.n_name ORDER BY n.n_name""",
    # part/supplier star over one ship month
    "part_supp": """SELECT p.p_brand, count(*) AS n_lines, sum(l.l_quantity) AS qty,
  count(DISTINCT s.s_nationkey) AS n_nations
FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
WHERE l.l_shipmonth = {month} AND p.p_size = {size}
GROUP BY p.p_brand ORDER BY p.p_brand""",
    # point lookup: min/max skipping on l_orderkey
    "point": """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents, l_shipmonth
FROM {lineitem} WHERE l_orderkey = {key} ORDER BY l_linenumber""",
    # range lookup: one partition plus an orderkey range
    "range": """SELECT count(*) AS n, sum(l_quantity) AS qty, min(l_orderkey) AS lo,
  max(l_orderkey) AS hi
FROM {lineitem} WHERE l_shipmonth = {month} AND l_orderkey BETWEEN {lo} AND {hi}""",
    "orders_range": """SELECT o_orderpriority, count(*) AS n,
  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
FROM {orders} WHERE o_orderyear = {year} AND o_orderkey BETWEEN {lo} AND {hi}
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "events_window": """SELECT user_id, count(*) AS n, max(gap) AS max_gap, sum(gap) AS sum_gap
FROM (SELECT user_id, ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM {events} WHERE user_id BETWEEN {u} AND {u2}) w
GROUP BY user_id ORDER BY user_id""",
    "doc_filter": """SELECT lang, count(*) AS n, sum(n_chars) AS chars
FROM {documents} WHERE text LIKE '%{w1} {w2}%' GROUP BY lang ORDER BY lang""",
    "emb_agg": """SELECT label, count(*) AS n,
  sum(CAST(floor(CAST(element_at(embedding, {i}) AS DOUBLE) * 1000) AS BIGINT)) AS s
FROM {embeddings} WHERE vec_id % {m} = {r} GROUP BY label ORDER BY label""",
}
# the query stream cycles through the templates in this fixed order, so
# every run issues the same mix; only the constants come from the seed
READ_CYCLE = ["point", "star_join", "range", "events_window", "point", "part_supp",
              "orders_range", "doc_filter", "point", "star_join", "range", "emb_agg"]


def make_reads(seed, n):
    """`n` query instances: template name plus seeded constants."""
    r = _rng(seed, "reads")
    out = []
    for i in range(n):
        t = READ_CYCLE[i % len(READ_CYCLE)]
        year = int(r.integers(1995, 2001))
        lo = int(r.integers(0, 140000))
        u = int(r.integers(0, 1480))
        p = {"rname": REGIONS[int(r.integers(0, 5))], "year": year,
             "month": int(r.integers(1, 13)), "size": int(r.integers(1, 51)),
             "key": int(r.integers(0, SF01_ROWS["orders"])),
             "lo": lo, "hi": lo + int(r.integers(500, 5000)), "u": u, "u2": u + 20,
             "w1": VOCAB[int(r.integers(0, 30))], "w2": VOCAB[int(r.integers(0, 30))],
             "i": int(r.integers(1, EMB_DIM + 1)), "m": 7, "r": int(r.integers(0, 7))}
        out.append({"id": f"r{i:04d}", "template": t, "params": p})
    return out


def render(template, params, table_ref):
    """SQL text of one instance; `table_ref(name)` spells a table for the
    engine at hand."""
    return READ_TEMPLATES[template].format(
        **params, **{t: table_ref(t) for t in TABLES})


# ---- delta_dml: the write stream ---------------------------------------

# the statement stream repeats this cycle (4 appends : 2 UPDATE : 2 DELETE :
# 1 MERGE), so every run sees the same sequence of kinds
DML_CYCLE = ["append", "update", "append", "delete", "append", "merge", "append",
             "update", "delete"]
DELETE_MOD = 50


def make_dml(seed, out, n, base_lineitem):
    """`n` statements cycling through DML_CYCLE with seeded parameters,
    over the table generated as `base_lineitem`, plus the parquet
    batches the appends and merges read. Every statement matches rows, so
    every statement commits."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "dml")
    base = pq.read_table(base_lineitem,
                         columns=["l_orderkey", "l_linenumber", "l_shipmonth"]).to_pandas()
    deletes = r.permutation(12 * DELETE_MOD)
    stmts, n_app, n_merge, n_del = [], 0, 0, 0
    for i in range(n):
        kind = DML_CYCLE[i % len(DML_CYCLE)]
        if kind == "delete" and n_del >= len(deletes):
            kind = "update"
        s = {"id": f"s{i:04d}", "kind": kind, "cycle": len(DML_CYCLE)}
        if kind == "append":
            keys = APPEND_KEY_BASE + n_app * BATCH_ROWS + np.arange(BATCH_ROWS // 4, dtype=np.int64)
            dates = DATE0 + r.integers(0, DAYS - 150, len(keys)).astype("timedelta64[D]")
            s["file"] = f"append_{n_app:04d}.parquet"
            _write(lineitem_table(lineitem_columns(r, keys, dates)), os.path.join(out, s["file"]))
            s["lo"], s["hi"] = int(keys[0]), int(keys[-1])
            n_app += 1
        elif kind == "update":
            s.update(month=int(r.integers(1, 13)), line=int(r.integers(1, 8)),
                     delta=int(r.integers(1, 5)))
        elif kind == "delete":
            d = int(deletes[n_del])
            n_del += 1
            s.update(month=d // DELETE_MOD + 1, mod=DELETE_MOD, rem=d % DELETE_MOD)
        else:
            # half the source matches base rows of one month, half is new
            month = int(r.integers(1, 13))
            part = base[base.l_shipmonth == month]
            hit = part.iloc[np.sort(r.choice(len(part), BATCH_ROWS // 2, replace=False))]
            new = MERGE_KEY_BASE + n_merge * BATCH_ROWS + np.arange(BATCH_ROWS // 2, dtype=np.int64)
            ok = np.concatenate([hit.l_orderkey.to_numpy(), new])
            ln = np.concatenate([hit.l_linenumber.to_numpy(), np.ones(len(new), np.int32)])
            ship = DATE0 + r.integers(0, DAYS, BATCH_ROWS).astype("timedelta64[D]")
            cols = line_rows(r, ok, ln, ship)
            cols["l_shipmonth"] = np.full(BATCH_ROWS, month, np.int32)
            s["file"] = f"merge_{n_merge:04d}.parquet"
            _write(lineitem_table(cols), os.path.join(out, s["file"]))
            s["month"] = month
            n_merge += 1
        stmts.append(s)
    return stmts


def write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)
