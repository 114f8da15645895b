"""Seeded input generator and DuckDB reference builder for the graft benchmark.

Every input a workload reads is a pure function of (workload, seed,
GEN_VERSION): the same seed always yields the same bytes. The program under
test only ever sees the generated files; reference results are computed here,
independently of graft, with DuckDB (and numpy for connected components).

Layout of one generated workload directory:

    <dir>/input/...          files the JVM job reads
    <dir>/ref/<output>.parquet   expected result of each checked job output
    <dir>/meta.json          rows / bytes per input, generation timings
"""

import io
import json
import os
import time
import zipfile

import duckdb
import numpy as np
import pyarrow as pa

GEN_VERSION = 1

# Workload sizes. They keep one job at a few seconds at local[4], so that a
# run, a cold JVM included, fits the benchmark's time budget; the rows and
# bytes of the listed workloads are recorded in BENCHMARK.json.
TEXT_DOCS = 1500          # documents (the job doubles them with marker copies)
TEXT_VOCAB = 20000        # Zipf vocabulary size
GRAPH_CLUSTERS = 700      # near-clique clusters
GRAPH_HUBS = 6            # power-law hubs
GRAPH_CHAINS = 3          # long chains (force the star route)
GRAPH_CHAIN_LEN = 80
EVENTS = 40000            # raw events, split between CSV and JSONL
EVENTS_USERS = 600
TPCH_SF = 0.01            # TPC-H-shaped tables
IMAGES = 8                # zip images of IMAGE_PX x IMAGE_PX RGBI
IMAGE_PX = 1000
IMAGE_TWINS = 3           # images 2i+1 (i < IMAGE_TWINS) are exact copies of 2i
IMAGE_QUERIES = ["img00.zip", "img02.zip"]

EPOCH_2024 = 1704067200
STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "it", "that", "for",
             "on", "with", "as", "at", "by", "from", "be", "or", "are", "an"]


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = false")
    return con


def _write_parquet(con, table, path):
    con.execute(f"COPY ({table}) TO '{path}' (FORMAT parquet)")


def _ref(con, sql, path):
    """Write the reference result of `sql` to parquet."""
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    return con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]


# ---------------------------------------------------------------- text


def gen_text(seed, d, oracle):
    rng = _rng(seed, 1)
    n = TEXT_DOCS
    lengths = rng.integers(10, 101, n)
    u = rng.random(int(lengths.sum()))
    # Zipf(s~1) rank by inverse CDF: P(rank <= r) = ln r / ln V
    ranks = np.minimum(np.floor(np.exp(u * np.log(TEXT_VOCAB))), TEXT_VOCAB)
    vocab = np.array(STOPWORDS + [f"w{r}" for r in range(len(STOPWORDS) + 1,
                                                         TEXT_VOCAB + 1)])
    toks = vocab[ranks.astype(np.int64) - 1]
    ends = np.cumsum(lengths)
    texts = [" ".join(toks[e - l:e]) for e, l in zip(ends, lengths)]
    # planted exact duplicates: every 50th doc repeats its predecessor, in
    # case / whitespace variants that only canonicalization equates
    for i in range(49, n, 50):
        t = texts[i - 1]
        texts[i] = t.upper() if (i // 50) % 2 else t.replace(" ", "  ", 3)
    ids = rng.permutation(np.arange(n, dtype=np.int64) * 3 + 1)
    tbl = pa.table({"doc_id": ids, "text": texts,
                    "n_chars": np.array([len(t) for t in texts], np.int64)})
    con = _con()
    con.register("docs_arrow", tbl)
    _write_parquet(con, "SELECT * FROM docs_arrow ORDER BY doc_id",
                   f"{d}/input/documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/input/documents.parquet'")
    refs = {"curation": _ref(con, oracle["corpus_curation"],
                             f"{d}/ref/curation.parquet")}
    return {"documents": n, "document_copies": n}, refs


# ---------------------------------------------------------------- graph


def gen_graph(seed, d):
    rng = _rng(seed, 2)
    src, dst = [], []
    nxt = 0
    members = []
    for _ in range(GRAPH_CLUSTERS):
        k = int(rng.integers(3, 16))
        ids = np.arange(nxt, nxt + k)
        nxt += k
        members.append(ids)
        a, b = np.triu_indices(k, 1)
        keep = rng.random(len(a)) < 0.7
        src.append(ids[a[keep]])
        dst.append(ids[b[keep]])
    cluster_nodes = np.concatenate(members)
    # power-law hubs: degree ~ 600 / rank
    for h in range(GRAPH_HUBS):
        hub = nxt
        nxt += 1
        deg = int(600 / (h + 1))
        nb = rng.choice(cluster_nodes, size=deg, replace=False)
        src.append(np.full(deg, hub))
        dst.append(nb)
    # long chains attached to a cluster at one end
    for _ in range(GRAPH_CHAINS):
        ids = np.arange(nxt, nxt + GRAPH_CHAIN_LEN)
        nxt += GRAPH_CHAIN_LEN
        src.append(ids[:-1])
        dst.append(ids[1:])
        src.append(np.array([ids[0]]))
        dst.append(np.array([rng.choice(cluster_nodes)]))
    s = np.concatenate(src).astype(np.int64)
    t = np.concatenate(dst).astype(np.int64)
    # both directions, then sparse scrambled ids
    s, t = np.concatenate([s, t]), np.concatenate([t, s])
    perm = rng.permutation(nxt).astype(np.int64) * 7 + 11
    s, t = perm[s], perm[t]
    pairs = np.unique(np.stack([s, t], 1), axis=0)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    pairs = pairs[rng.permutation(len(pairs))]
    tbl = pa.table({"src": pairs[:, 0], "dst": pairs[:, 1]})
    con = _con()
    con.register("edges_arrow", tbl)
    _write_parquet(con, "SELECT * FROM edges_arrow", f"{d}/input/edges.parquet")
    con.execute(f"CREATE VIEW edges AS SELECT src, dst FROM '{d}/input/edges.parquet'")
    refs = {}
    rank_sql = """
      WITH RECURSIVE
      sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
      nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
                 SELECT src AS node FROM sym UNION ALL SELECT dst FROM sym)),
      outdeg AS MATERIALIZED (SELECT src, count(*) AS d FROM sym GROUP BY src),
      aug AS MATERIALIZED (SELECT s.src, s.dst, o.d FROM sym s JOIN outdeg o USING (src)
              UNION ALL SELECT node, node, NULL FROM nodes),
      pr(node, r, iter) AS (
        SELECT node, CAST({init} AS BIGINT), 0 FROM nodes
        UNION ALL
        SELECT a.dst,
               CAST({tele} + (85 * sum(CASE WHEN a.d IS NOT NULL THEN pr.r // a.d ELSE 0 END)) // 100 AS BIGINT),
               pr.iter + 1
        FROM pr JOIN aug a ON pr.node = a.src
        WHERE pr.iter < 5
        GROUP BY a.dst, pr.iter)
      SELECT node, r FROM pr WHERE iter = 5"""
    refs["pagerank"] = _ref(con, rank_sql.format(init="1000000", tele="150000"),
                            f"{d}/ref/pagerank.parquet")
    seeded = "CASE WHEN {c} % 13 = 0 THEN {v} ELSE 0 END"
    refs["ppr"] = _ref(con, rank_sql.format(
        init=seeded.format(c="node", v=1000000),
        tele=seeded.format(c="a.dst", v=150000)), f"{d}/ref/ppr.parquet")
    refs["triangles"] = _ref(con, """
      WITH pairs AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS id_a,
                                         greatest(src, dst) AS id_b
                                  FROM edges WHERE src <> dst),
      tri AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
              FROM pairs e1
              JOIN pairs e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
              JOIN pairs e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b),
      corners AS (SELECT unnest([x, y, z]) AS node FROM tri),
      cc AS (SELECT node, count(*) AS t FROM corners GROUP BY node),
      nodes AS (SELECT DISTINCT node FROM (
        SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs))
      SELECT n.node, CAST(coalesce(cc.t, 0) AS BIGINT) AS triangles
      FROM nodes n LEFT JOIN cc USING (node)""", f"{d}/ref/triangles.parquet")
    # connected components (min reachable id) by label propagation with
    # pointer jumping over dense indices
    nodes, inv = np.unique(pairs.ravel(), return_inverse=True)
    a, b = inv[0::2], inv[1::2]
    lab = np.arange(len(nodes))
    while True:
        old = lab.copy()
        np.minimum.at(lab, a, lab[b])
        np.minimum.at(lab, b, lab[a])
        lab = lab[lab]
        if np.array_equal(lab, old):
            break
    comps = pa.table({"id": nodes, "comp": nodes[lab], "keep": nodes == nodes[lab]})
    con.register("comps_arrow", comps)
    refs["clusters"] = _ref(con, "SELECT * FROM comps_arrow",
                            f"{d}/ref/clusters.parquet")
    return {"edges": len(pairs), "nodes": len(nodes)}, refs


# ---------------------------------------------------------------- events


def gen_events(seed, d, oracle):
    rng = _rng(seed, 3)
    n = EVENTS
    types = np.array(["click", "error", "purchase", "signup", "view"])
    ev = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_s": EPOCH_2024 + rng.integers(0, 30 * 86400, n),
        "user_id": rng.integers(0, EVENTS_USERS, n),
        "event_type": types[rng.integers(0, 5, n)],
        "value": np.round(np.maximum(0.01, rng.exponential(50.0, n)), 2),
        "k": rng.integers(0, 100, n),
    }
    ev["bad"] = (ev["event_id"] % 2 == 1) & (ev["event_id"] % 7 == 0)
    con = _con()
    con.register("ev_arrow", pa.table(ev))
    con.execute("""CREATE TABLE ev AS SELECT *,
        CASE WHEN bad THEN '{' ELSE '' END || '{"k": ' || k || '}' AS props
        FROM ev_arrow""")
    inp = f"{d}/input"
    # raw feeds: even ids as CSV, odd ids as JSONL (every 7th props corrupted)
    con.execute(f"""COPY (SELECT event_id, ts_s, user_id, event_type, value
        FROM ev WHERE event_id % 2 = 0 ORDER BY event_id)
        TO '{inp}/events.csv' (FORMAT csv, HEADER true)""")
    con.execute(f"""COPY (SELECT event_id, ts_s, user_id, event_type, value, props
        FROM ev WHERE event_id % 2 = 1 ORDER BY event_id)
        TO '{inp}/events.jsonl' (FORMAT json)""")
    tp = f"{d}/tpch"
    os.makedirs(tp, exist_ok=True)
    _write_parquet(con, """SELECT event_id, make_timestamp(ts_s * 1000000) AS ts,
        user_id, event_type, value, props FROM ev ORDER BY event_id""",
                   f"{tp}/events.parquet")
    rows = _gen_tpch(rng, con, tp)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tp}/{t}.parquet'")
    con.execute("""CREATE VIEW raw AS SELECT event_id, ts_s, user_id, event_type,
        value, k, bad, event_id % 2 = 1 AS from_json FROM ev""")
    refs = {}
    refs["ingest"] = _ref(con, """SELECT event_type, count(*) AS n,
        min(ts_s) AS first_s, max(ts_s) AS last_s,
        CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS value_micro,
        CAST(sum(CASE WHEN from_json AND bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        CAST(sum(CASE WHEN from_json AND NOT bad THEN k ELSE 0 END) AS BIGINT) AS k_sum_good
        FROM raw GROUP BY event_type""", f"{d}/ref/ingest.parquet")
    refs["merge"] = _ref(con, oracle["cdc_merged_balances"], f"{d}/ref/merge.parquet")
    con.execute(f"CREATE VIEW merged AS SELECT * FROM '{d}/ref/merge.parquet'")
    refs["colocated"] = _ref(con, """SELECT m.key, m.val, a.n_events
        FROM merged m JOIN (SELECT user_id AS key, count(*) AS n_events
                            FROM raw GROUP BY user_id) a USING (key)""",
                             f"{d}/ref/colocated.parquet")
    refs["asof"] = _ref(con, oracle["asof_purchase_click"], f"{d}/ref/asof.parquet")
    # events_near_errors' semantics, with the window as a BETWEEN so DuckDB
    # plans a range join instead of a nested loop
    near = """WITH ev AS (SELECT event_id, ts_s, event_type FROM raw)
        SELECT e.event_id, count(x.event_id) AS cnt
        FROM (SELECT * FROM ev WHERE event_type = 'error') e
        LEFT JOIN ev x ON x.ts_s BETWEEN e.ts_s - 300 AND e.ts_s + 300
                      AND e.event_id <> x.event_id
        GROUP BY 1"""
    refs["range"] = _ref(con, near, f"{d}/ref/range.parquet")
    refs["sql_range"] = _ref(con, f"SELECT * FROM ({near}) WHERE cnt > 0",
                             f"{d}/ref/sql_range.parquet")
    refs["revenue"] = _ref(con, oracle["revenue_per_nation"], f"{d}/ref/revenue.parquet")
    refs["q5"] = _ref(con, oracle["q5_local_supplier_volume"], f"{d}/ref/q5.parquet")
    rows.update({"events": n})
    return rows, refs


def _gen_tpch(rng, con, tp):
    sf = TPCH_SF
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord, n_li = int(200000 * sf), int(1500000 * sf), int(6000000 * sf)

    def money(lo, span, n):
        return np.round(lo + rng.random(n) * span, 2)

    def pick(vals, n):
        return np.array(vals)[rng.integers(0, len(vals), n)]

    def dates(n, extra=0):
        days = rng.integers(0, 2404, n) + extra
        return (np.datetime64("1995-01-01") + days.astype("timedelta64[D]")
                ).astype("datetime64[us]")

    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": money(-999.0, 10999.0, n_cust),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": money(-999.0, 10999.0, n_supp)},
        "part": {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": pick(["blue anvil", "red bolt", "small gear"], n_part),
                 "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0},
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord),
                   "o_totalprice": money(1000.0, 499000.0, n_ord),
                   "o_orderdate": dates(n_ord),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {"l_orderkey": rng.integers(0, n_ord, n_li),
                     "l_partkey": rng.integers(0, n_part, n_li),
                     "l_suppkey": rng.integers(0, n_supp, n_li),
                     "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": money(900.0, 104100.0, n_li),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": pick(["A", "N", "R"], n_li),
                     "l_linestatus": pick(["F", "O"], n_li),
                     "l_shipdate": dates(n_li, rng.integers(1, 96, n_li))},
        "documents": {"doc_id": np.arange(4, dtype=np.int64),
                      "text": ["a b c"] * 4, "n_chars": np.full(4, 5, np.int64)},
        "embeddings": {"vec_id": np.arange(4, dtype=np.int64),
                       "embedding": [[0.5, 0.5]] * 4,
                       "label": np.zeros(4, np.int32)},
    }
    rows = {}
    for name, cols in tables.items():
        con.register(f"{name}_arrow", pa.table(cols))
        _write_parquet(con, f"SELECT * FROM {name}_arrow", f"{tp}/{name}.parquet")
        rows[name] = len(next(iter(cols.values())))
    return {k: rows[k] for k in ["customer", "orders", "lineitem", "supplier"]}


# ---------------------------------------------------------------- images


def gen_images(seed, d):
    rng = _rng(seed, 4)
    px = IMAGE_PX
    r = np.arange(px, dtype=np.int64)[:, None]
    c = np.arange(px, dtype=np.int64)[None, :]
    inp = f"{d}/input/zips"
    os.makedirs(inp, exist_ok=True)
    raw_bytes = 0
    base = None
    for i in range(IMAGES):
        if i % 2 == 1 and i // 2 < IMAGE_TWINS:
            img = base  # exact twin of the previous image
        else:
            a, b, e = rng.integers(1, 13, 3)
            chans = [((r * r * a + c * c * b + r * c * e + ch * 11) % 251)
                     for ch in range(4)]
            img = np.stack(chans, -1).astype(np.uint8)
            noise = rng.integers(0, 40, (px, px, 4), dtype=np.uint8)
            img = (img.astype(np.int64) + noise) % 251
            img = img.astype(np.uint8)
            base = img
        payload = (np.array([px, px], ">i4").tobytes() + img.tobytes())
        raw_bytes += len(payload)
        name = f"img{i:02d}"
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
            info = zipfile.ZipInfo(f"{name}.tif", date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, payload)
        with open(f"{inp}/{name}.zip", "wb") as f:
            f.write(buf.getvalue())
    # reference: every tile of a query image must find its exact twin's tile
    # (and itself) at distance 0
    tiles = (px // 500) ** 2
    req = []
    for q in IMAGE_QUERIES:
        i = int(q[3:5])
        twin = i + 1 if (i % 2 == 0 and i // 2 < IMAGE_TWINS) else None
        for t in range(tiles):
            req.append((f"{q}-{t}", f"{q}-{t}"))
            if twin is not None:
                req.append((f"{q}-{t}", f"img{twin:02d}.zip-{t}"))
    con = _con()
    con.register("req_arrow", pa.table({"query_id": [a for a, _ in req],
                                        "candidate_id": [b for _, b in req]}))
    refs = {"twins": _ref(con, "SELECT query_id, candidate_id, 0.0 AS dist_r FROM req_arrow",
                          f"{d}/ref/twins.parquet")}
    return {"images": IMAGES, "tiles": IMAGES * tiles, "raw_bytes": raw_bytes}, refs


def _dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def generate(workload, seed, d, oracle):
    """Generate inputs and references for one (workload, seed) into `d`."""
    for sub in ("input", "ref"):
        os.makedirs(f"{d}/{sub}", exist_ok=True)
    t0 = time.time()
    if workload == "text_curation":
        rows, refs = gen_text(seed, d, oracle)
    elif workload == "graph_iterate":
        rows, refs = gen_graph(seed, d)
    elif workload == "events_rw":
        rows, refs = gen_events(seed, d, oracle)
    elif workload == "image_lsh":
        rows, refs = gen_images(seed, d)
    else:
        raise ValueError(f"unknown workload {workload}")
    meta = {"workload": workload, "seed": seed, "gen_version": GEN_VERSION,
            "rows": rows, "input_bytes": _dir_bytes(f"{d}/input") +
            (_dir_bytes(f"{d}/tpch") if os.path.isdir(f"{d}/tpch") else 0),
            "ref_rows": refs, "gen_s": round(time.time() - t0, 3)}
    with open(f"{d}/meta.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta
