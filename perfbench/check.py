"""Output checks for one benchmark run, made after the timed region.

Every output the run kept is compared against DuckDB running the same
question over the same parquet tables: the registry's oracle SQL
(`SparkEntry.oracleSql` and its parametric helpers) where one exists, the
benchmark's own SQL for the incident batch and index size. Results are
compared as in `tools/local_verify.py`: column names, row count and a hash
of all values (columns sorted by name, rows sorted, floats to 9 significant
digits). The two rows-only curation entries, whose k-means buckets no SQL
replays, are checked on their row count and on every row's values that do
not depend on the buckets (see `ROWS_ONLY`).
"""
import hashlib

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            s = f"{v:.9g}"
            if "." not in s and "e" not in s and "n" not in s:
                s += ".0"
            return s
        return str(v)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare(con, sql, path):
    """None when the kept output matches DuckDB, else the reason."""
    got = pq.read_table(path).to_pandas()
    want = con.sql(sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if canon(got) != canon(want):
        return f"value hash differs ({len(got)} rows)"
    return None


def fetch_sql(since, until, limit):
    """The incident batch as IncidentPipeline.fetch + preprocess pick it."""
    return f"""
      WITH f AS (
        SELECT event_id, ts, user_id, event_type,
               regexp_replace(regexp_replace(props, '[\\w.-]+@[\\w.-]+', '[REDACTED_EMAIL]', 'g'),
                              '\\b(?:\\d[ -]*?){{13,16}}\\b', '[REDACTED_CARD]', 'g') AS props
        FROM events
        WHERE event_type = 'error' AND props NOT LIKE '%"k": 0}}%' AND props LIKE '%k%'
          AND ts >= TIMESTAMP '{since}' AND ts < TIMESTAMP '{until}'
        ORDER BY ts, event_id LIMIT {limit}),
      d AS (
        SELECT *, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_us,
               row_number() OVER (PARTITION BY props, strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                                  ORDER BY event_id) AS rn
        FROM f)
      SELECT ts_us, user_id, event_type, props FROM d WHERE rn = 1 ORDER BY ts, event_id"""


def rca_reason(con, check):
    """Checks the prompt's incident batch and the steady index size."""
    x = check["extra"]
    batch = con.sql(fetch_sql(x["since"], x["until"], x["limit"])).fetchall()[: int(x["batch"])]
    lines = [f"- {ts} | user_{u} | {t} | {p}" for ts, u, t, p in batch]
    prompt = x["prompt"]
    current = prompt.split("Current Logs:\n", 1)[1].split("\n\nSimilar Past Incidents:", 1)[0]
    if current.split("\n") != lines:
        return "incident batch differs from DuckDB"
    all_rows = con.sql(f"SELECT count(*) FROM ({fetch_sql('2024-01-01 00:00:00', '2100-01-01 00:00:00', 2**31 - 1)})").fetchone()[0]
    if int(x["index_rows"]) != all_rows:
        return f"index rows {x['index_rows']} != {all_rows}"
    if pq.read_table(check["path"]).num_rows == 0:
        return "empty RAG history"
    return None


# the valid embeddings, as Embeddings.corpus and the registry's oracles read them
CORPUS = """c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR NOT isfinite(x))) = 0)"""


def cosine(a, b):
    """VecFns.cosine: 0 when either vector is all zeros."""
    return (f"CASE WHEN list_dot_product({a}, {a}) = 0 OR list_dot_product({b}, {b}) = 0 THEN 0.0 "
            f"ELSE list_dot_product({a}, {b}) / sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b})) END")


# Per rows-only entry: what its SQL counts over the output view `out`, then
# the SQL, which returns a (got, want) pair for each.
# `ann_ivf`: 10 neighbours for each valid query vector (vec_id < 100), ranked
# 1..10 by non-increasing similarity, each similarity the exact cosine
# rounded to 6 places. `dedup_embedding`: one row per valid vector, its
# neighbour's similarity the exact cosine, `is_dup` set at 0.95.
ROWS_ONLY = {
    "ann_ivf": (["rows", "queries without ranks 1..10", "rank order breaks", "wrong similarities"], f"""WITH {CORPUS}
      SELECT (SELECT count(*) FROM out), 10 * (SELECT count(*) FROM c WHERE vec_id < 100),
        (SELECT count(*) FROM (SELECT qid FROM out GROUP BY qid
           HAVING count(*) <> 10 OR count(DISTINCT rk) <> 10 OR min(rk) <> 1 OR max(rk) <> 10
             OR count(DISTINCT vec_id) <> 10)), 0,
        (SELECT count(*) FROM out o JOIN out p ON o.qid = p.qid AND p.rk = o.rk + 1
           WHERE p.sim > o.sim), 0,
        (SELECT count(*) FROM out o LEFT JOIN c a ON a.vec_id = o.qid LEFT JOIN c b ON b.vec_id = o.vec_id
           WHERE a.vec_id IS NULL OR b.vec_id IS NULL OR o.qid >= 100 OR o.qid = o.vec_id
             OR abs(o.sim - ({cosine('a.e', 'b.e')})) > 2e-6), 0"""),
    "dedup_embedding": (["rows", "vectors missing or extra", "wrong neighbour values"], f"""WITH {CORPUS}
      SELECT (SELECT count(*) FROM out), (SELECT count(*) FROM c),
        (SELECT count(*) FROM c FULL JOIN out o USING (vec_id) WHERE c.vec_id IS NULL OR o.vec_id IS NULL), 0,
        (SELECT count(*) FROM out o JOIN c a ON a.vec_id = o.vec_id LEFT JOIN c b ON b.vec_id = o.nn_id
           WHERE o.nn_id IS NOT NULL AND (b.vec_id IS NULL OR o.nn_id = o.vec_id
             OR abs(o.nn_sim - ({cosine('a.e', 'b.e')})) > 2e-6 OR o.is_dup <> (o.nn_sim >= 0.95))), 0"""),
}
def rows_only_reason(con, key, path):
    con.sql(f"CREATE OR REPLACE VIEW out AS SELECT * FROM read_parquet('{path}/*.parquet')")
    names, sql = ROWS_ONLY[key]
    got = con.sql(sql).fetchone()
    bad = [f"{n} {g} != {w}" for n, g, w in zip(names, got[::2], got[1::2]) if g != w]
    return "; ".join(bad) or None


def run_checks(data_dir, checks):
    """Returns {key: reason} for every failed check."""
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failed = {}
    for c in checks:
        try:
            if c["key"].startswith("incident_run_"):
                reason = rca_reason(con, c)
            elif c["sql"]:
                reason = compare(con, c["sql"], c["path"])
            elif c["key"] in ROWS_ONLY:
                reason = rows_only_reason(con, c["key"], c["path"])
            else:
                reason = f"no check for {c['key']}"
        except Exception as e:  # a check that cannot run is a failed check
            reason = f"check error: {e}"
        if reason:
            failed[c["key"]] = reason
    return failed
