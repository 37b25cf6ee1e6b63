"""Output checks of a benchmark run against DuckDB.

Each graft output the run lands is compared with the DuckDB twin of the
matching `SparkEntry.oracleSql` key, run on the same generated tables:
same row count, same columns and the same hash over every value (columns
sorted by name, rows sorted). Outputs without a DuckDB twin that runs in
time are checked against an independent computation here.
"""
import datetime
import hashlib
import math

import duckdb

TABLES = ["region", "nation", "orders", "lineitem", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        path = f"{data_dir}/{t}.parquet"
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        except duckdb.Error:
            pass  # the workload did not generate this table
    return con


def read_dir(con, path):
    rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [d[0] for d in rel.description]
    return cols, rel.fetchall()


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted([tuple(_cell(r[i]) for i in order) for r in rows])
    h = hashlib.sha256()
    for r in canon:
        h.update("|".join(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def compare(name, got, want):
    (gc, gr), (wc, wr) = got, want
    if sorted(gc) != sorted(wc):
        return (name, False, f"columns {sorted(gc)} vs oracle {sorted(wc)}")
    if len(gr) != len(wr):
        return (name, False, f"{len(gr)} rows vs oracle {len(wr)}")
    ok = value_hash(gc, gr) == value_hash(wc, wr)
    return (name, ok, f"{len(gr)} rows, hash {'equal' if ok else 'differs'}")


def oracle_rows(con, sql):
    rel = con.execute(sql.strip().rstrip(";"))
    return [d[0] for d in rel.description], rel.fetchall()


def components_expected(con):
    """Min-id connected components of the customer-supplier graph
    (customer c -> node 2c, supplier s -> node 2s+1), by union-find."""
    edges = con.execute(
        "SELECT DISTINCT o_custkey * 2, l_suppkey * 2 + 1 FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey").fetchall()
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label = {n: find(n) for n in list(parent)}
    size = {}
    for n, lab in label.items():
        size[lab] = size.get(lab, 0) + 1
    return {n: (lab, size[lab]) for n, lab in label.items()}


def check_components(con, path):
    cols, rows = read_dir(con, path)
    i, c, z = cols.index("node_id"), cols.index("component"), cols.index("component_size")
    got = {r[i]: (r[c], r[z]) for r in rows}
    want = components_expected(con)
    bad = sum(1 for n in want if got.get(n) != want[n])
    ok = len(got) == len(want) and bad == 0
    return ("graph_components vs union-find", ok, f"{len(got)} nodes, {bad} differ")


def check_curated(con, path, sql):
    """The landed corpus is, per near-dup cluster, the best-logit member
    among documents passing the quality (>= 0.5) and language gates."""
    con.execute(f"CREATE TEMP TABLE q AS {sql['text_quality'].strip().rstrip(';')}")
    con.execute(f"CREATE TEMP TABLE l AS {sql['text_langid'].strip().rstrip(';')}")
    want = set(con.execute(
        "SELECT doc_id, cluster_id FROM (SELECT v.doc_id, v.cluster_id, row_number() OVER "
        "(PARTITION BY v.cluster_id ORDER BY v.logit_e12 DESC, v.doc_id) AS rk "
        "FROM v JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN documents d USING (doc_id) "
        "WHERE q.quality >= 0.5 AND l.pred_lang = d.lang) WHERE rk = 1").fetchall())
    got = set(con.execute(
        f"SELECT doc_id, cluster_id FROM read_parquet('{path}/*.parquet')").fetchall())
    return ("curated corpus = best passing member per cluster", got == want,
            f"{len(got)} landed, {len(want)} expected, {len(got ^ want)} differ")


def run_checks(data_dir, oracle, sql):
    """`oracle` lists {key, path}; returns [(name, ok, detail)]."""
    con = connect(data_dir)
    out = []
    for o in oracle:
        key, path = o["key"], o["path"]
        try:
            if key == "graph_components":
                out.append(check_components(con, path))
            elif key == "curated_corpus":
                out.append(check_curated(con, path, sql))
            elif key == "dedup_survivors":
                con.execute(f"CREATE TEMP TABLE v AS {sql[key].strip().rstrip(';')}")
                out.append(compare(key, read_dir(con, path), oracle_rows(con, "SELECT * FROM v")))
            else:
                out.append(compare(key, read_dir(con, path), oracle_rows(con, sql[key])))
        except Exception as e:  # a check that cannot run is a failed check
            out.append((key, False, f"error: {e}"[:300]))
    return out
