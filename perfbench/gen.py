"""Seeded input generator for the benchmark.

Everything the engine reads in a run is made here from ``--seed``: gzip
access-log day files, eprint metadata for the set dimensions, the
dashboard request mix, and the curation corpus. The engine only ever
sees the generated files; the same seed always gives the same bytes.
"""
import datetime as dt
import gzip
import json
import os
import random
import zlib

import duckdb

START = dt.date(2024, 1, 1)
LOCAL_HOST = "myrepo.org"

# Crawler prefixes and user agents that appear in the shipped robot lists.
ROBOT_IP_PREFIXES = ["66.249.", "40.77.", "157.55.", "207.46."]
ROBOT_UAS = [
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "python-requests/2.31.0",
    "Wget/1.21.3",
]
HUMAN_UAS = [
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2) AppleWebKit/605.1.15 Version/17.2 Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 Chrome/120.0 Safari/537.36 Edg/120.0",
    "Opera/9.80 (Windows NT 6.1) Presto/2.12.388 Version/12.16",
    "Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 6.1)",
    "Mozilla/5.0 (X11; Linux) KHTML Konqueror/5",
]
SEARCH_WORDS = [
    "spark", "open", "access", "repository", "statistics", "thesis",
    "climate", "model", "protein", "graph", "network", "learning",
    "survey", "history", "law", "economics", "the", "of", "and", "a",
]
EXTERNAL_REFERRERS = [
    "https://scholar.example.org/citations",
    "https://partner.example.com/docs/list",
    "https://www.facebook.com/groups/research",
    "https://news.example.net/item?id=42",
]


def day_name(d):
    return d.isoformat()


def zipf_picker(rng, n, s=1.1):
    """Return a function drawing 0..n-1 with Zipf(s) popularity."""
    weights = [1.0 / (k + 1) ** s for k in range(n)]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    import bisect

    def pick():
        return min(bisect.bisect_left(cum, rng.random() * acc), n - 1)
    return pick


def access_days(seed, days, lines_per_day, items, requesters=1500):
    """Yield (date, [tsv line]) for `days` consecutive days from START.

    Traffic shape: ~4% robot user agents, ~2.4% robot IPs, a bounded
    requester x item space with click chains (repeats inside and beyond
    the one-hour repeat window), ~20% search referrers, ~50% downloads
    and ~1% verbatim duplicate lines."""
    rng = random.Random(seed * 7919 + 1)
    pool = []
    while len(pool) < requesters:
        ip = "%d.%d.%d.%d" % (rng.randint(1, 223), rng.randint(0, 255),
                              rng.randint(0, 255), rng.randint(1, 254))
        if not any(ip.startswith(p) for p in ROBOT_IP_PREFIXES):
            pool.append(ip)
    pick_item = zipf_picker(rng, items, 0.9)
    pick_req = zipf_picker(rng, requesters, 0.7)
    for di in range(days):
        day = START + dt.timedelta(days=di)
        recent = []
        events = []
        for _ in range(lines_per_day):
            if recent and rng.random() < 0.25:
                req, ua, item, doc, sec = rng.choice(recent)
                sec += rng.randint(30, 1200) if rng.random() < 0.7 \
                    else rng.randint(3700, 9000)
                if sec >= 86400:
                    continue
            else:
                sec = rng.randint(0, 86399)
                r = rng.random()
                if r < 0.024:
                    req = rng.choice(ROBOT_IP_PREFIXES) + "%d.%d" % (
                        rng.randint(0, 255), rng.randint(1, 254))
                else:
                    req = pool[pick_req()]
                ua = rng.choice(ROBOT_UAS) if rng.random() < 0.04 \
                    else HUMAN_UAS[zlib.crc32(req.encode()) % len(HUMAN_UAS)]
                item = pick_item() + 1
                doc = rng.randint(1, 3) if rng.random() < 0.5 else None
            r = rng.random()
            if r < 0.20:
                words = " ".join(rng.choice(SEARCH_WORDS)
                                 for _ in range(rng.randint(1, 4)))
                q = words.replace(" ", "+")
                ref = rng.choice([
                    "https://www.google.com/search?q=%s&hl=en" % q,
                    "https://www.bing.com/search?q=%s" % q,
                    "https://search.yahoo.com/search?p=%s" % q])
            elif r < 0.35:
                ref = rng.choice([
                    "https://%s/%d/" % (LOCAL_HOST, rng.randint(1, items)),
                    "https://%s/cgi/search/simple" % LOCAL_HOST,
                    "https://%s/view/subjects/" % LOCAL_HOST])
            elif r < 0.75:
                ref = ""
            else:
                ref = rng.choice(EXTERNAL_REFERRERS)
            recent.append((req, ua, item, doc, sec))
            if len(recent) > 200:
                recent.pop(0)
            events.append((sec, req, ua, ref, item, doc))
        events.sort(key=lambda e: e[0])
        lines = []
        for sec, req, ua, ref, item, doc in events:
            stamp = "%sT%02d:%02d:%02dZ" % (day_name(day), sec // 3600,
                                            sec // 60 % 60, sec % 60)
            line = "\t".join([stamp, req, ua, ref, "svc", str(item),
                              "" if doc is None else str(doc)])
            lines.append(line)
            if rng.random() < 0.01:
                lines.append(line)
        yield day, lines


def write_day(root, day, lines):
    d = os.path.join(root, "%04d" % day.year)
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, day_name(day) + ".log.gz")
    # mtime=0: the same seed gives byte-identical files
    with open(p, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb",
                                             mtime=0) as f:
        f.write(("\n".join(lines) + "\n").encode("utf-8"))
    return p


def write_logs(seed, out, days, lines_per_day, items, staged_days=0):
    """`days` day files under out/logs, then `staged_days` more under
    out/incoming (added one per nightly step). Returns line counts."""
    counts = {}
    for i, (day, lines) in enumerate(
            access_days(seed, days + staged_days, lines_per_day, items)):
        root = os.path.join(out, "logs" if i < days else "incoming")
        write_day(root, day, lines)
        counts[day_name(day)] = len(lines)
    return counts


COUNTRIES = ["US", "DE", "GB", "FR", "JP", "CN", "BR", "IN"]
REFERRER_LABELS = ["Direct", "Google", "MSN/Bing", "Yahoo", "Facebook",
                   "Internal", "Internal (Abstract page)", "Internal (Search)",
                   "Internal (Browse view)", "scholar.example.org",
                   "partner.example.com"]
BROWSERS = ["Chrome", "Edge", "Firefox", "IE", "Konqueror", "Mozilla", "Opera",
            "Safari"]


def write_facts(seed, out, days, events_per_day, items):
    """Daily fact rows (date, id, value, count) for every access
    datatype, one parquet file per datatype under out/facts_in: the
    shape the ETL writes, with Zipf item popularity."""
    rng = random.Random(seed * 53 + 5)
    pick_item = zipf_picker(rng, items, 0.9)
    pick_term = zipf_picker(rng, len(SEARCH_WORDS) - 4, 1.0)
    pick_ref = zipf_picker(rng, len(REFERRER_LABELS), 1.2)
    facts = {}

    def add(dt, day, ident, value):
        k = (dt, day, ident, value)
        facts[k] = facts.get(k, 0) + 1
    for di in range(days):
        day = (START + dt.timedelta(days=di)).isoformat()
        for _ in range(events_per_day):
            item = pick_item() + 1
            if rng.random() < 0.5:
                doc = rng.randint(1, 3)
                add("downloads", day, item, "downloads")
                add("doc_downloads", day, doc, "doc_downloads")
                if rng.random() < 0.5:
                    add("countries", day, item, rng.choice(COUNTRIES))
            else:
                add("views", day, item, "views")
            add("browsers", day, item, rng.choice(BROWSERS))
            add("referrer", day, item, REFERRER_LABELS[pick_ref()])
            if rng.random() < 0.2:
                for _ in range(rng.randint(1, 3)):
                    add("search_terms", day, item, SEARCH_WORDS[pick_term()])
    tsv = os.path.join(out, "facts.tsv")
    with open(tsv, "w") as f:
        for k, n in facts.items():
            f.write("%s\t%s\t%d\t%s\t%d\n" % (k + (n,)))
    con = duckdb.connect()
    con.execute("CREATE TABLE f AS SELECT * FROM read_csv(?, delim = '\t', "
                "header = false, quote = '', columns = {'dt': 'VARCHAR', "
                "'date': 'DATE', 'id': 'BIGINT', 'value': 'VARCHAR', "
                "'count': 'BIGINT'})", [tsv])
    os.remove(tsv)
    os.makedirs(os.path.join(out, "facts_in"))
    for d in sorted({k[0] for k in facts}):
        con.execute("COPY (SELECT date, id, value, count FROM f WHERE dt = '%s' "
                    "ORDER BY date, id, value) TO '%s' (FORMAT PARQUET)"
                    % (d, os.path.join(out, "facts_in", d + ".parquet")))


DIVISION_TREE = [("fac_sci", "ROOT"), ("fac_arts", "ROOT"),
                 ("fac_law", "ROOT")] + [
    ("dep_%s_%d" % (f, k), "fac_" + f)
    for f in ("sci", "arts", "law") for k in range(4)]
TYPES = ["article", "book_section", "conference_item", "thesis",
         "monograph", "dataset"]
FAMILY = ["Smith", "Garcia", "Chen", "Muller", "Rossi", "Dubois", "Kowalski",
          "Nakamura", "Okafor", "Silva", "Jensen", "Novak", "Ivanova"]
GIVEN = ["Ana", "Ben", "Chloe", "Dara", "Eli", "Fay", "Gus", "Hana", "Ivo"]


def write_metadata(seed, out, items, authors=300):
    """Eprint metadata: type, leaf divisions, creators (compound)."""
    rng = random.Random(seed * 31 + 7)
    leaves = [c for c, p in DIVISION_TREE if c.startswith("dep_")]
    pick_author = zipf_picker(rng, authors, 1.0)
    rows = []
    for i in range(1, items + 1):
        creators = []
        for a in sorted({pick_author() for _ in range(rng.randint(1, 4))}):
            creators.append({"id": "author%d@example.org" % a, "name": {
                "family": FAMILY[a % len(FAMILY)],
                "given": GIVEN[(a // len(FAMILY)) % len(GIVEN)]}})
        rows.append({"id": i, "type": rng.choice(TYPES),
                     "divisions": sorted(set(rng.sample(leaves,
                                                        rng.randint(1, 2)))),
                     "creators": creators})
    js = os.path.join(out, "meta.json")
    with open(js, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM read_json(?, format='newline_delimited', "
        "columns={'id': 'BIGINT', 'type': 'VARCHAR', "
        "'divisions': 'VARCHAR[]', 'creators': "
        "'STRUCT(id VARCHAR, name STRUCT(family VARCHAR, given VARCHAR))[]'}))"
        " TO '%s' (FORMAT PARQUET)" % os.path.join(out, "meta.parquet"), [js])
    con.execute(
        "COPY (SELECT * FROM (VALUES %s) t(child, parent)) TO '%s' "
        "(FORMAT PARQUET)" % (", ".join("('%s', '%s')" % cp
                                        for cp in DIVISION_TREE),
                              os.path.join(out, "tree.parquet")))
    os.remove(js)


# Request popularity is Zipf-like with exponent 0.64-0.83 on the web
# proxy traces of Breslau et al., "Web Caching and Zipf-like
# Distributions: Evidence and Implications" (INFOCOM 1999).
POPULARITY_ALPHA = 0.8
# The popularity trace (which rank each request asks for) is drawn once
# from this generator, the same on every seed, so every seed serves the
# same pattern of first requests and repeats; the seed decides which key
# holds each rank, and every window, item and set in the keys.
TRACE_SEED = 20240101


def request_mix(seed, n_requests, items, days):
    """The dashboard request stream, drawn by Zipf popularity over a key
    space of ~400 report requests, more keys than a run serves. A key's
    first request is a cache miss and every later one a hit, so the hit
    ratio is what the draws give. Kinds of request: date-series graph
    views, top-N tables, per-item counters, per-set and set x grouping
    tables, grouping tables, all-time queries and whole report pages.
    Each kind holds the same share of every popularity level as of the
    key space. Dates are relative to `today`, the day after the last
    ingested day."""
    rng = random.Random(seed * 131 + 3)
    today = START + dt.timedelta(days=days)
    leaves = [c for c, p in DIVISION_TREE if c.startswith("dep_")]
    facs = [c for c, p in DIVISION_TREE if c.startswith("fac_")]
    datatypes = ["downloads", "views"]
    # the windows a request may ask for: 7, 14 or 28 days ending 1-3
    # days before today
    windows = [((today - dt.timedelta(days=back + span - 1)).isoformat(),
                (today - dt.timedelta(days=back)).isoformat())
               for span in (7, 14, 28) for back in (1, 2, 3)]

    def draw(n):
        return rng.sample(windows, n)

    kinds = {}
    # graph views: a date series densified and regrouped by day / month
    kinds["graph"] = [
        {"view": "graph_" + res, "datatype": dtp, "fields": "date",
         "from": f, "to": t}
        for dtp in datatypes for res in ("day", "month") for f, t in windows]
    # top-N tables
    kinds["table"] = [
        {"view": "table", "datatype": dtp, "from": f, "to": t,
         "fields": "id" if dtp in datatypes else "value", "limit": str(lim)}
        for dtp in ["downloads", "views", "countries", "referrer",
                    "browsers", "search_terms"]
        for lim in (5, 10, 20) for f, t in draw(3)]
    # per-item counters
    kinds["item"] = []
    for item in rng.sample(range(1, min(items, 1000) + 1), 80):
        f, t = rng.choice(windows)
        kinds["item"].append({
            "view": "counter", "datatype": rng.choice(datatypes),
            "set_name": "eprint", "set_value": str(item), "from": f, "to": t})
    # per-set and set x grouping tables
    kinds["set"] = [
        {"view": "table", "datatype": "downloads", "set_name": "divisions",
         "set_value": s, "from": f, "to": t, "fields": "id", "limit": "10"}
        for s in leaves + facs for f, t in draw(3)]
    kinds["grouping"] = [
        {"view": "table", "datatype": "downloads", "set_name": "divisions",
         "set_value": s, "grouping": "authors", "from": f, "to": t,
         "limit": "10"}
        for s in leaves + facs for f, t in draw(3)]
    kinds["set_table"] = [
        {"view": "table", "datatype": dtp, "set_name": g, "from": f, "to": t,
         "limit": "10"}
        for g in ("divisions", "eprint_type", "authors")
        for dtp, (f, t) in rng.sample([(d, w) for d in datatypes
                                       for w in windows], 4)]
    # all-time queries, answered from the lifetime MV
    kinds["alltime"] = [
        {"view": "counter", "datatype": dtp, "range": "_ALL_"}
        for dtp in ["downloads", "views", "doc_downloads"]] + [
        {"view": "table", "datatype": dtp, "range": "_ALL_", "fields": "id",
         "limit": str(lim)}
        for dtp in ["downloads", "views", "doc_downloads"]
        for lim in (5, 10, 20)]
    # whole report pages of an item or a division
    kinds["page"] = [
        {"page": "eprint", "value": str(i)}
        for i in rng.sample(range(1, min(items, 1000) + 1), 10)] + [
        {"page": "divisions", "value": s}
        for s in rng.sample(leaves + facs, 10)]
    # popularity ranks: each kind's keys in a seeded order, the kinds
    # interleaved in proportion to their key counts
    for name in sorted(kinds):
        rng.shuffle(kinds[name])
    taken = dict.fromkeys(kinds, 0)
    ranked = []
    for _ in range(sum(len(v) for v in kinds.values())):
        name = min(sorted(kinds), key=lambda k: (taken[k] + 0.5) / len(kinds[k]))
        ranked.append(kinds[name][taken[name]])
        taken[name] += 1
    assert len({json.dumps(k, sort_keys=True) for k in ranked}) == len(ranked)
    pick = zipf_picker(random.Random(TRACE_SEED), len(ranked), POPULARITY_ALPHA)
    return [ranked[pick()] for _ in range(n_requests)]


CORPUS_WORDS = {
    "en": ["the", "a", "of", "and", "is", "data", "model", "result",
           "method", "study", "system", "value", "table", "with", "for",
           "from", "that", "analysis", "measure", "sample"],
    "de": ["der", "die", "das", "und", "nicht", "daten", "modell",
           "ergebnis", "studie", "system", "wert", "tabelle", "mit"],
    "fr": ["le", "les", "des", "est", "et", "donnees", "modele",
           "resultat", "etude", "systeme", "valeur", "tableau", "avec"],
    "es": ["el", "la", "los", "que", "es", "datos", "modelo",
           "resultado", "estudio", "sistema", "valor", "tabla", "con"],
}


def write_corpus(seed, out, sources, docs_per_source, stream_files):
    """Curation corpus. `documents.parquet` is the base table (source
    src1 is the benchmark); one candidate doc in 12 is an exact clone of
    an earlier doc and one in 16 copies a 12-token window of a benchmark
    doc.
    `cand/` and `bench/` hold the corpus the engine reads: the base
    docs plus one clone of each at doc_id + 1,000,000, each text
    carrying a PII tail (the kp3 fixture shape). `cand/` is split into
    `stream_files` parquet files for the streaming replay."""
    rng = random.Random(seed * 17 + 11)
    # the corpus shape is the same on every seed: document lengths, the
    # language mix and the clone / overlap counts; the seed picks the
    # words and which documents are cloned or overlap
    lengths = [12 + (88 * k) // max(1, docs_per_source - 1)
               for k in range(docs_per_source)]
    langs = (["en"] * 3 + ["de", "fr", "es"]) * (docs_per_source // 6 + 1)
    docs = []
    bench_texts = []
    for s in range(sources):
        order = list(range(docs_per_source))
        rng.shuffle(order)
        for k in range(docs_per_source):
            lang = langs[order[k]]
            words = CORPUS_WORDS[lang]
            text = " ".join(rng.choice(words) for _ in range(lengths[order[k]]))
            doc_id = s * docs_per_source + k
            src = "src%d" % s
            if src == "src1":
                bench_texts.append(text)
            elif docs and k % 12 == 5:
                text = rng.choice(docs)[2]
            elif bench_texts and k % 16 == 7:
                b = rng.choice(bench_texts).split(" ")
                at = rng.randint(0, max(0, len(b) - 12))
                text = text + " " + " ".join(b[at:at + 12])
            docs.append((doc_id, src, text, lang))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
                    [(d, t, lang, s, len(t)) for d, s, t, lang in docs])
    con.execute("COPY documents TO '%s' (FORMAT PARQUET)"
                % os.path.join(out, "documents.parquet"))
    con.execute("""CREATE TABLE injected AS
        SELECT source, doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR)
               || '@example.com or call 555-'
               || CAST(doc_id % 10000 AS VARCHAR) AS text
        FROM (SELECT source, doc_id, text FROM documents UNION ALL
              SELECT source, doc_id + 1000000, text FROM documents)""")
    os.makedirs(os.path.join(out, "cand"))
    for i in range(stream_files):
        con.execute(
            "COPY (SELECT * FROM injected WHERE source <> 'src1' AND "
            "doc_id %% %d = %d ORDER BY doc_id) TO '%s' (FORMAT PARQUET)"
            % (stream_files, i,
               os.path.join(out, "cand", "part-%05d.parquet" % i)))
    con.execute("COPY (SELECT * FROM injected WHERE source = 'src1' "
                "ORDER BY doc_id) TO '%s' (FORMAT PARQUET)"
                % os.path.join(out, "bench.parquet"))
    os.makedirs(os.path.join(out, "bench"))
    os.rename(os.path.join(out, "bench.parquet"),
              os.path.join(out, "bench", "part-00000.parquet"))
