"""Output checks of the benchmark, in DuckDB, independent of Spark.

Ingest: each operation's sink is read back and its per-date counts, and the
committed watermark or cursor, are compared with the generator's manifest;
the manifest itself is re-derived from the generated pages with DuckDB
`read_json`. Catalog: each entry's warm-up result is compared with its own
oracle SQL over the generated tables, as tools/check.py compares them.

Problems are reported per operation or entry; an empty list means correct.
"""
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def load_truths(work):
    with open(os.path.join(work, "truth.jsonl")) as f:
        return {t["op"]: t for t in map(json.loads, f)}


def sink_counts(con, sink_dir):
    files = glob.glob(os.path.join(sink_dir, "ingest_date=*", "*.json"))
    if not files:
        return {}
    rows = con.execute(
        "SELECT CAST(ingest_date AS VARCHAR), count(*) FROM read_json(?, "
        "format='newline_delimited', hive_partitioning=true, "
        "columns={'id': 'BIGINT'}) GROUP BY 1", [files]).fetchall()
    return {d: n for d, n in rows}


def sink_bytes(sink_dir):
    return sum(os.path.getsize(f)
               for f in glob.glob(os.path.join(sink_dir, "ingest_date=*", "*.json")))


PAGES_SQL = """
SELECT try_cast(published_at AS TIMESTAMP) AS ts
FROM read_json(?, format='array', columns={'id': 'BIGINT', 'published_at': 'VARCHAR'})
"""


def derive(con, files, watermark=None):
    """Kept-per-date and max kept timestamp over the given page files."""
    where = "ts IS NOT NULL" + (" AND ts > CAST(? AS TIMESTAMP)" if watermark else "")
    params = [files] + ([watermark.replace("Z", "")] if watermark else [])
    rows = con.execute(
        f"SELECT CAST(CAST(ts AS DATE) AS VARCHAR), count(*), max(ts) "
        f"FROM ({PAGES_SQL}) WHERE {where} GROUP BY 1", params).fetchall()
    kept = {d: n for d, n, _ in rows}
    top = max((m for _, _, m in rows), default=None)
    return kept, (top.strftime("%Y-%m-%dT%H:%M:%SZ") if top else None)


def page_files(feed_dir, pages):
    return [os.path.join(feed_dir, f"page={p}", "articles.json") for p in pages]


def check_ingest(workload, work, ops):
    """Returns ({op: [problems]}, [run-level problems], {op: sink bytes}, {op: manifest})."""
    con = duckdb.connect()
    truths = load_truths(work)
    per_op, run_problems, nbytes = {}, [], {}
    if workload == "ingest_incremental":
        tail = sorted(glob.glob(os.path.join(work, "feeds", "inc", "tail", "page=*", "articles.json")))
        first = truths[min(truths)]
        _, tail_max = derive(con, tail)
        if tail_max is None or tail_max > first["prev_watermark"]:
            run_problems.append(f"stale tail is not older than the first watermark ({tail_max})")
    for op in ops:
        i = op["i"]
        t = truths.get(i)
        probs = []
        if op["error"]:
            probs.append(op["error"])
        if t is None:
            probs.append("no manifest entry")
            per_op[i] = probs
            continue
        files = page_files(t["feed_dir"], t["own_pages"])
        if workload == "ingest_incremental":
            kept, top = derive(con, files, t["prev_watermark"])
            want_commit = t["next_watermark"]
            if kept != t["kept"] or (top or t["prev_watermark"]) != t["next_watermark"]:
                probs.append(f"manifest disagrees with DuckDB over the feed: {kept} / {top}")
        else:
            kept, _ = derive(con, files)
            want_commit = str(t["next_cursor"])
            if kept != t["kept"]:
                probs.append(f"manifest disagrees with DuckDB over the feed: {kept}")
            if op["info"].get("cursor") not in (None, str(t["cursor"])):
                probs.append(f"read cursor {op['info'].get('cursor')}, expected {t['cursor']}")
        if not op["error"]:
            sink = op["info"]["sink_dir"]
            got = sink_counts(con, sink)
            if got != t["kept"]:
                probs.append(f"sink per-date counts {got} != manifest {t['kept']}")
            if op["info"].get("committed") != want_commit:
                probs.append(f"committed {op['info'].get('committed')} != manifest {want_commit}")
            nbytes[i] = sink_bytes(sink)
        per_op[i] = probs
    return per_op, run_problems, nbytes, truths


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def check_catalog(work, sf_dir, names):
    """Returns {entry name: [problems]} from the oracle compare."""
    out_dir = os.path.join(work, "catalog_out")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = {}
    for name in names:
        probs = []
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            res[name] = ["no warm-up result written"]
            continue
        spark = con.execute("SELECT * FROM read_parquet(?)", [files]).fetch_arrow_table()
        sql = oracles.get(name)
        if sql is None:
            if spark.num_rows == 0:
                probs.append("no-oracle entry returned 0 rows")
            res[name] = probs
            continue
        try:
            duck = con.execute(sql).fetch_arrow_table()
        except duckdb.Error as e:
            res[name] = [f"oracle failed: {e}"]
            continue
        sc, dc = sorted(spark.column_names), sorted(duck.column_names)
        if sc != dc:
            probs.append(f"columns spark={sc} duck={dc}")
        elif spark.num_rows != duck.num_rows:
            probs.append(f"rows spark={spark.num_rows} duck={duck.num_rows}")
        else:
            for c in sc:
                sv = [_norm(x) for x in spark.column(c).to_pylist()]
                dv = [_norm(x) for x in duck.column(c).to_pylist()]
                if sv != dv:
                    k = next(k for k, (a, b) in enumerate(zip(sv, dv)) if a != b)
                    probs.append(f"col {c} row {k}: spark={sv[k]!r} duck={dv[k]!r}")
                    break
        res[name] = probs
    return res
