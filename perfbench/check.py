"""Output checks, run after the timed region: every output the engine
produced in a run is recomputed independently in DuckDB.

- ETL: per (datatype, day) count sums of the written fact tables equal
  DuckDB over the same day files, with the shipped robot lists,
  full-line dedup and a recursive-CTE sequential repeat filter; each
  lifetime MV total equals its fact table's total.
- Serving: every miss (and every page item) payload equals DuckDB over
  the written fact parquet and set dims built from the eprint
  metadata; every hit is byte-equal to the miss that stored it.
- Curation: the batch report equals the kp3 oracle SQL; the streaming
  replay and the cached report equal the batch report.
"""
import glob
import hashlib
import json
import os

import duckdb

# The engine's search-term stopword list (graft.functions.Text.stopwords).
STOPWORDS = ["a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
             "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
             "to", "was", "were", "will", "with"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]


def _patterns(path):
    with open(path, encoding="utf-8") as f:
        return [ln.strip() for ln in f
                if ln.strip() and not ln.strip().startswith("#")]


def _sql_list(xs):
    return ", ".join("'%s'" % x.replace("'", "''") for x in xs)


def etl_oracle(con, log_glob, start, today, resources):
    """(datatype, date) -> count over the day files of one ETL window
    [start, today), as the ETL defines it; appended to table `oracle`."""
    con.execute("CREATE OR REPLACE TABLE ua_pat AS SELECT unnest([%s]) AS p"
                % _sql_list(_patterns(os.path.join(resources, "robots_ua.txt"))))
    con.execute("CREATE OR REPLACE TABLE ip_pat AS SELECT unnest([%s]) AS p"
                % _sql_list(_patterns(os.path.join(resources, "robots_ip.txt"))))
    # Stages are materialized one by one: a recursive CTE would
    # otherwise re-evaluate its inputs on every iteration.
    con.execute("""
    CREATE OR REPLACE TABLE parsed AS
    WITH lines AS (
      SELECT DISTINCT datestamp, requester_id, ua, ref, svc,
             TRY_CAST(referent_id AS INTEGER) AS referent_id,
             TRY_CAST(referent_docid AS INTEGER) AS referent_docid,
             CAST(regexp_extract(filename, '(\\d{4}-\\d{2}-\\d{2})', 1) AS DATE)
               AS file_date
      FROM read_csv(?, delim = '\t', header = false, quote = '',
                    escape = '', filename = true, auto_detect = false,
                    columns = {'datestamp': 'VARCHAR', 'requester_id': 'VARCHAR',
                               'ua': 'VARCHAR', 'ref': 'VARCHAR',
                               'svc': 'VARCHAR', 'referent_id': 'VARCHAR',
                               'referent_docid': 'VARCHAR'}))
    SELECT *, strptime(datestamp, '%Y-%m-%dT%H:%M:%SZ') AS ts FROM lines
    WHERE file_date >= CAST(? AS DATE) AND file_date < CAST(? AS DATE)""",
                [log_glob, start, today])
    con.execute("""
    CREATE OR REPLACE TABLE ev AS
    WITH uas AS (SELECT DISTINCT ua FROM parsed),
    robots_ua AS (
      SELECT ua FROM uas
      WHERE EXISTS (SELECT 1 FROM ua_pat WHERE contains(lower(uas.ua), p))),
    ips AS (SELECT DISTINCT requester_id FROM parsed),
    robots_ip AS (
      SELECT requester_id FROM ips
      WHERE EXISTS (SELECT 1 FROM ip_pat
                    WHERE starts_with(ips.requester_id, ip_pat.p))),
    humans AS (
      SELECT p.*, CAST(epoch(ts) AS BIGINT) AS sec,
             COALESCE(referent_docid, -1) AS key_doc
      FROM parsed p
      WHERE referent_id IS NOT NULL
        AND (ua IS NULL OR ua NOT IN (SELECT ua FROM robots_ua))
        AND requester_id NOT IN (SELECT requester_id FROM robots_ip))
    SELECT *, ROW_NUMBER() OVER (PARTITION BY requester_id, referent_id,
             key_doc ORDER BY sec) AS rn
    FROM humans""")
    # the sequential repeat filter: keep a hit when more than an hour
    # has passed since the last KEPT hit of the same requester x item
    con.execute("""
    CREATE OR REPLACE TABLE kept AS
    WITH RECURSIVE keep AS (
      SELECT requester_id, referent_id, key_doc, rn, sec AS last_kept,
             TRUE AS kept
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.requester_id, e.referent_id, e.key_doc, e.rn,
             CASE WHEN e.sec - k.last_kept > 3600 THEN e.sec ELSE k.last_kept END,
             e.sec - k.last_kept > 3600
      FROM ev e JOIN keep k ON e.requester_id = k.requester_id
        AND e.referent_id = k.referent_id AND e.key_doc = k.key_doc
        AND e.rn = k.rn + 1)
    SELECT ev.* FROM ev JOIN keep USING (requester_id, referent_id, key_doc, rn)
    WHERE keep.kept""")
    con.execute("""
    INSERT INTO oracle
    WITH facts AS (
      SELECT CAST(ts AS DATE) AS date, referent_docid, requester_id, ref,
        CASE WHEN regexp_matches(lower(regexp_extract(ref, '^[a-zA-Z]+://([^/?#]*)', 1)),
                                 '(^|\\.)yahoo\\.')
             THEN regexp_extract(ref, '[?&]p=([^&#]*)', 1)
             ELSE regexp_extract(ref, '[?&]q=([^&#]*)', 1) END AS q
      FROM kept)
    SELECT 'downloads', date, COUNT(*) FROM facts
      WHERE referent_docid IS NOT NULL GROUP BY ALL
    UNION ALL SELECT 'views', date, COUNT(*) FROM facts
      WHERE referent_docid IS NULL GROUP BY ALL
    UNION ALL SELECT 'doc_downloads', date, COUNT(*) FROM facts
      WHERE referent_docid IS NOT NULL GROUP BY ALL
    UNION ALL SELECT 'countries', date, COUNT(*) FROM facts
      WHERE referent_docid IS NOT NULL
        AND CAST(split_part(requester_id, '.', 1) AS INTEGER) BETWEEN 1 AND 223
        AND CAST(split_part(requester_id, '.', 2) AS INTEGER) < 128
      GROUP BY ALL
    UNION ALL SELECT 'browsers', date, COUNT(*) FROM facts GROUP BY ALL
    UNION ALL SELECT 'referrer', date, COUNT(*) FROM facts GROUP BY ALL
    UNION ALL SELECT 'search_terms', date,
        SUM(len(list_filter(
          string_split_regex(lower(replace(q, '+', ' ')), '[+\\s]+'),
          w -> length(regexp_replace(w, '["''.,;:!?()\\[\\]]', '', 'g')) >= 2
               AND regexp_replace(w, '["''.,;:!?()\\[\\]]', '', 'g')
                   NOT IN ({STOP}))))
      FROM facts GROUP BY ALL
    """.replace("{STOP}", _sql_list(STOPWORDS)))


def check_etl(work, resources):
    info = json.load(open(os.path.join(work, "etl_check.json")))
    con = duckdb.connect()
    con.execute("CREATE TABLE oracle(dt VARCHAR, date DATE, n BIGINT)")
    # one oracle pass per Etl.run: the repeat filter never sees across runs
    for first, today in info["windows"]:
        etl_oracle(con, info["logs"], first or "0001-01-01", today, resources)
    start = min(w[0] or "0001-01-01" for w in info["windows"])
    want = {(dt, str(d)): int(n) for dt, d, n in
            con.execute("SELECT dt, date, n FROM oracle WHERE n > 0").fetchall()}
    got = {}
    store = info["store"]
    for dt in sorted({k[0] for k in want}):
        files = glob.glob(os.path.join(store, dt, "*", "*.parquet"))
        if not files:
            return ["etl: no fact table for %s" % dt]
        for d, n in con.execute(
                "SELECT date, CAST(SUM(count) AS BIGINT) FROM read_parquet(?, "
                "hive_partitioning = true) GROUP BY 1", [files]).fetchall():
            if str(d) >= start:
                got[(dt, str(d))] = int(n)
        mv = []
        ptr = os.path.join(store, "_mv", dt, "mv_current.ckpt")
        if os.path.exists(ptr):
            version = open(ptr).read().strip().split("|")[0]
            mv = glob.glob(os.path.join(store, "_mv", dt, "v" + version,
                                        "*.parquet"))
        mv_total = con.execute("SELECT CAST(SUM(count) AS BIGINT) FROM "
                               "read_parquet(?)", [mv]).fetchone()[0] if mv else None
        fact_total = con.execute("SELECT CAST(SUM(count) AS BIGINT) FROM "
                                 "read_parquet(?)", [files]).fetchone()[0]
        if mv_total != fact_total:
            return ["etl: lifetime MV of %s totals %s, facts %s"
                    % (dt, mv_total, fact_total)]
    if got != want:
        bad = sorted(set(got) ^ set(want) |
                     {k for k in got if k in want and got[k] != want[k]})[:5]
        return ["etl: fact counts differ from DuckDB at %s"
                % [(k, got.get(k), want.get(k)) for k in bad]]
    return []


def serve_views(con, work, store):
    """Set dims from the metadata and one view per fact table."""
    con.execute("CREATE OR REPLACE TABLE meta AS SELECT * FROM read_parquet(?)",
                [os.path.join(work, "meta.parquet")])
    con.execute("CREATE OR REPLACE TABLE tree AS SELECT * FROM read_parquet(?)",
                [os.path.join(work, "tree.parquet")])
    con.execute("""CREATE OR REPLACE TABLE divisions AS
        WITH RECURSIVE c(set_value, id) AS (
          SELECT unnest(divisions), id FROM meta
          UNION SELECT t.parent, c.id FROM c JOIN tree t ON c.set_value = t.child)
        SELECT DISTINCT set_value, id FROM c""")
    con.execute("""CREATE OR REPLACE TABLE eprint_type AS
        SELECT DISTINCT type AS set_value, id FROM meta
        WHERE type IS NOT NULL AND type <> ''""")
    con.execute("""CREATE OR REPLACE TABLE authors AS
        SELECT DISTINCT lower(trim(c.id)) AS set_value, id
        FROM (SELECT id, unnest(creators) AS c FROM meta)
        WHERE c.id IS NOT NULL AND trim(c.id) <> ''""")
    for d in os.listdir(os.path.join(store, "facts")):
        files = glob.glob(os.path.join(store, "facts", d, "*", "*.parquet"))
        if d.startswith("_") or not files:
            continue
        con.execute("CREATE OR REPLACE VIEW f_%s AS SELECT date, id, value, count "
                    "FROM read_parquet(%s, hive_partitioning = true)"
                    % (d, "[%s]" % _sql_list(files)))


def view_sql(p):
    """The report query a resolved context denotes: the engine's
    canonical shape, recomputed from facts (never from the MV)."""
    fields = [f for f in p.get("fields", "").split(",") if f]
    where = []
    if "from" in p and p.get("from") == p.get("to"):
        where.append("date = DATE '%s'" % p["from"])
    else:
        if "from" in p:
            where.append("date >= DATE '%s'" % p["from"])
        if "to" in p:
            where.append("date <= DATE '%s'" % p["to"])
    if "datafilter" in p:
        where.append("value = '%s'" % p["datafilter"])
    join = ""
    set_name, set_value = p.get("set_name"), p.get("set_value")
    if set_name and set_name != "eprint":
        member = "id IN (SELECT id FROM %s%s)" % (
            set_name, " WHERE set_value = '%s'" % set_value if set_value else "")
        if "grouping" in p:
            where.append(member)
            join = ("JOIN (SELECT id, set_value AS grouping_value FROM %s) g "
                    "USING (id)" % p["grouping"])
            dims = ["grouping_value"]
        elif set_value:
            where.append(member)
            dims = fields
        else:
            join = "JOIN %s USING (id)" % set_name
            dims = ["set_value"]
    else:
        if set_value:
            where.append("id = %d" % int(set_value) if set_value.isdigit()
                         else "FALSE")
        dims = fields
    dims = list(dict.fromkeys(dims))
    sel = ", ".join(dims + ["CAST(SUM(count) AS BIGINT) AS count"])
    order = ", ".join(["count DESC NULLS LAST"] +
                      ["%s ASC NULLS FIRST" % d for d in dims])
    sql = "SELECT %s FROM f_%s %s %s %s ORDER BY %s" % (
        sel, p["datatype"], join,
        ("WHERE " + " AND ".join(where)) if where else "",
        ("GROUP BY " + ", ".join(dims)) if dims else "", order)
    if "limit" in p:
        sql += " LIMIT %s" % p["limit"]
    if "offset" in p:
        sql += " OFFSET %s" % p["offset"]
    return sql


def _cell(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def expected_payload(con, p):
    view = p.get("view", "table")
    if view.startswith("graph_"):
        res = view[len("graph_"):]
        q = p.copy()
        q["view"] = "table"
        rows = dict((str(d), n) for d, n in
                    con.execute("SELECT date, count FROM (%s)" % view_sql(q)).fetchall())
        cal = con.execute("SELECT CAST(range AS DATE) FROM range(DATE '%s', "
                          "DATE '%s' + INTERVAL 1 DAY, INTERVAL 1 DAY)"
                          % (p["from"], p["to"])).fetchall()
        buckets = {}
        for (d,) in cal:
            key = d.strftime("%Y%m%d" if res == "day" else "%Y%m")
            buckets[key] = buckets.get(key, 0) + (rows.get(str(d)) or 0)
        out = []
        for ds in sorted(buckets):
            label = ("%s %s %s" % (ds[6:8], MONTHS[int(ds[4:6]) - 1], ds[:4])
                     if res == "day" else "%s %s" % (MONTHS[int(ds[4:6]) - 1], ds[:4]))
            out.append({"datestamp": ds, "count": buckets[ds], "description": label})
        return out
    r = con.execute(view_sql(p))
    cols = [d[0] for d in r.description]
    rows = [[_cell(v) for v in row] for row in r.fetchall()]
    if view == "geochart":
        return rows
    return [dict(zip(cols, row)) for row in rows]


def check_serve(work):
    info = json.load(open(os.path.join(work, "serve_check.json")))
    con = duckdb.connect()
    serve_views(con, work, info["store"])
    stored = {}
    errors = []
    n = 0
    with open(os.path.join(work, "misses.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            data = json.loads(rec["payload"])["data"]
            want = expected_payload(con, rec["params"])
            n += 1
            if data != want:
                errors.append("serve: %s payload differs from DuckDB for %s: "
                              "%s vs %s" % (rec["kind"], rec["params"],
                                            data[:3], want[:3]))
            if rec["kind"] == "miss":
                stored[rec["key"]] = hashlib.sha256(
                    rec["payload"].encode("utf-8")).hexdigest()
    hits = 0
    with open(os.path.join(work, "hits.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            hits += 1
            if stored.get(rec["key"]) != rec["sha"]:
                errors.append("serve: hit %s is not byte-equal to its miss"
                              % rec["key"])
    if n == 0:
        errors.append("serve: no payload was checked")
    return errors[:5]


def check_curate(work):
    info = json.load(open(os.path.join(work, "curate_check.json")))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                % os.path.join(work, "documents.parquet"))
    r = con.execute(info["oracle_sql"])
    cols = [d[0] for d in r.description]
    want = [dict(zip(cols, row)) for row in r.fetchall()]
    errors = []
    if info["batch"] != want:
        errors.append("curate: batch report differs from the kp3 oracle: %s vs %s"
                      % (info["batch"][:2], want[:2]))
    if info["stream"] != info["batch"]:
        errors.append("curate: streaming report differs from the batch report")
    if json.loads(info["cached"])["data"] != info["batch"]:
        errors.append("curate: cached report differs from the batch report")
    return errors
