"""Checks of the program's outputs against engines it does not use.

- `build`: the `search_index` rows equal the DuckDB form of the rules
  (`Corpus.oracleIndexBody`), and every term's document count and
  occurrence count in the postings and positions equal SQLite FTS5's
  (`tokenize='porter'`, the reference's own engine) over the same rows.
- serve workloads: each distinct page is parsed and its "Got N results"
  count, facet counts, result keys, fields, order, BM25 scores and
  `display_sql` columns are compared with SQLite FTS5 and DuckDB.
- `batch`: the checks of `build` and of `dedup_chain`.
- `dedup_chain`: each query's rows equal its DuckDB oracle SQL under
  `tools/check.py`'s comparator; `x_dedup_simhash` and
  `x_dedup_minhash_calibration` are also held to properties their
  methods must have.

Each check returns a list of problems; an empty list means correct.
"""
import collections
import html
import json
import os
import re
import sqlite3
import sys
from urllib.parse import parse_qsl

import duckdb
import pyarrow.dataset as ds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
INDEX_COLS = ["type", "key", "title", "timestamp", "category", "is_public",
              "search_1", "search_2", "search_3"]
CATEGORY_LABELS = {"1": "created", "2": "saved", "3": "received"}
FACET_SIZE = 30
SCORE_TOL = 1e-3


def duck(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_index(con, body):
    cols = ", ".join(f'"{c}"' for c in INDEX_COLS)
    return con.execute(f"SELECT {cols} FROM ({body}) q").fetchall()


def fts(rows):
    """An SQLite FTS5 porter index over (title, search_1); rowid i+1 is
    rows[i]."""
    db = sqlite3.connect(":memory:")
    db.execute("CREATE VIRTUAL TABLE fts USING fts5(title, search_1, tokenize='porter')")
    db.executemany("INSERT INTO fts(rowid, title, search_1) VALUES (?, ?, ?)",
                   [(i + 1, r[2], r[6]) for i, r in enumerate(rows)])
    return db


# ---- build ------------------------------------------------------------

def check_build(res, data_dir):
    problems = []
    chk = res["checks"]
    index_dir = chk["index_dir"]
    con = duck(data_dir)
    want = oracle_index(con, chk["oracle_index_sql"])
    got_t = ds.dataset(f"{index_dir}/search_index", format="parquet",
                       partitioning="hive").to_table(columns=INDEX_COLS)
    got = list(zip(*[got_t.column(c).to_pylist() for c in INDEX_COLS]))
    w, g = collections.Counter(want), collections.Counter(got)
    if w != g:
        extra, missing = g - w, w - g
        problems.append(f"search_index: {sum(extra.values())} unexpected rows "
                        f"(e.g. {next(iter(extra), None)}), {sum(missing.values())} "
                        f"missing (e.g. {next(iter(missing), None)})")
    db = fts(want)
    db.execute("CREATE VIRTUAL TABLE v USING fts5vocab(fts, 'row')")
    vocab = {t: (d, c) for t, d, c in db.execute("SELECT term, doc, cnt FROM v")}
    post = {t: (d, c) for t, d, c in con.execute(
        f"SELECT term, count(*), CAST(sum(tf_title + tf_s1) AS BIGINT) "
        f"FROM read_parquet('{index_dir}/postings/*/*.parquet') GROUP BY term").fetchall()}
    pos = dict(con.execute(
        f"SELECT term, CAST(sum(len(poss)) AS BIGINT) "
        f"FROM read_parquet('{index_dir}/positions/*/*.parquet') GROUP BY term").fetchall())
    if post != vocab:
        bad = sorted(set(post) ^ set(vocab)) or \
            sorted(t for t in post if post[t] != vocab.get(t))
        problems.append(f"postings differ from FTS5 vocab on {len(bad)} terms, "
                        f"e.g. {bad[:3]}: {[(post.get(t), vocab.get(t)) for t in bad[:3]]}")
    if pos != {t: c for t, (_, c) in vocab.items()}:
        problems.append("positions: occurrence counts differ from FTS5 vocab")
    return problems


# ---- serve ------------------------------------------------------------

def match(db, q):
    """rowid-1 -> -bm25 for an FTS5 query."""
    return {rid - 1: -b for rid, b in
            db.execute("SELECT rowid, bm25(fts) FROM fts WHERE fts MATCH ?", (q,))}


def parse_page(page):
    m = re.search(r"<p>Got ([0-9,]+) results?, sorted by", page)
    count = int(m.group(1).replace(",", "")) if m else None
    facets = {}
    for block in page.split('<div class="facet">')[1:]:
        name = re.search(r"<h2>(.*?)</h2>", block).group(1)
        items = []
        for li in re.findall(r"<li[^>]*>(.*?)</li>", block):
            label = re.search(r'class="label">(.*?)</(?:a|span)>', li).group(1)
            n = re.search(r'<span class="count">([0-9,]+)</span>', li).group(1)
            items.append((html.unescape(label), int(n.replace(",", ""))))
        facets[html.unescape(name)] = items
    results = []
    for m in re.finditer(r'<div class="result" data-table-key="([^"]*)">\s*(.*?)\s*</div>',
                         page, re.S):
        typ, key = html.unescape(m.group(1)).rsplit(":", 1)
        body = m.group(2)
        pre = re.fullmatch(r"<pre>(.*)</pre>", body, re.S)
        if pre:
            fields = json.loads(html.unescape(pre.group(1)))
        else:
            fields = {f: html.unescape(v) for f, v in
                      re.findall(r'<span class="f" data-f="([^"]+)">(.*?)</span>', body)}
        results.append((typ, key, fields))
    return count, facets, results


def escape_fts(q):
    """The escape fallback: every whitespace token searched as a phrase."""
    return " ".join('"' + t.replace('"', '""') + '"' for t in q.split())


def _cmp_time(desc):
    def cmp(a, b):  # a, b: (timestamp, type, key)
        if a[0] != b[0]:
            return (-1 if a[0] > b[0] else 1) if desc else (-1 if a[0] < b[0] else 1)
        return (a[1:] > b[1:]) - (a[1:] < b[1:])
    return cmp


def check_page(entry, terms, page, rows, db, orders):
    """Problems with one page, and notes on where its scores differ from
    FTS5's own bm25() of the query.

    A page is scored as the program documents it: the sum over the
    query's positive terms of each term's FTS5 BM25 (for a one-token
    phrase per term this is FTS5's bm25(); multi-token phrases, NEAR,
    `^` and prefix queries are where the two differ).
    """
    params = dict(parse_qsl(entry["query"], keep_blank_values=True))
    q = params.get("q", "").strip()
    sort = params.get("sort")
    count, facets, results = parse_page(page)
    where = {"type": params.get("type"), "category": params.get("category"),
             "is_public": params.get("is_public"), "date": params.get("timestamp__date")}

    def keep(r):
        return ((where["type"] is None or r[0] == where["type"])
                and (where["category"] is None or str(r[4]) == where["category"])
                and (where["is_public"] is None or str(r[5]) == where["is_public"])
                and (where["date"] is None or (r[3] or "")[:10] == where["date"]))

    scores = fts_scores = None
    if q:
        try:
            fts_scores = match(db, q)
        except sqlite3.OperationalError:
            fts_scores = match(db, escape_fts(q))
        per_term = [match(db, '"' + t + '"') for t in dict.fromkeys(terms)]
        scores = {i: sum(m.get(i, 0.0) for m in per_term) for i in fts_scores}
        base = [i for i in scores if keep(rows[i])]
    else:
        base = [i for i, r in enumerate(rows) if keep(r)]
    problems, notes = [], []
    if count != len(base):
        problems.append(f"count {count} != {len(base)}")

    # facets: count desc, value asc, at most FACET_SIZE values each
    def facet(name, value, label=lambda v: v):
        c = collections.Counter(value(rows[i]) for i in base)
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:FACET_SIZE]
        want = [(label(v), n) for v, n in top]
        if facets.get(name, []) != want:
            problems.append(f"facet {name}: {facets.get(name, [])[:4]} != {want[:4]}")
    facet("type", lambda r: r[0])
    facet("category", lambda r: str(r[4]), lambda v: CATEGORY_LABELS.get(v, v))
    facet("is_public", lambda r: str(r[5]))
    facet("timestamp", lambda r: (r[3] or "")[:10])

    # results: members of the base set, same fields, documented order
    limit = 100 if q else 40
    by_key = {(rows[i][0], rows[i][1]): i for i in base}
    if len(results) != min(limit, len(base)):
        problems.append(f"{len(results)} results, expected {min(limit, len(base))}")
    page_rows, page_scores = [], []
    for typ, key, f in results:
        i = by_key.get((typ, key))
        if i is None:
            problems.append(f"result {typ}:{key} is not in the expected set")
            continue
        r = rows[i]
        want = {"title": r[2], "timestamp": r[3], "category": str(r[4]),
                "is_public": str(r[5]), "search_1": r[6]}
        got = {k: f.get(k) for k in want}
        if got != want:
            problems.append(f"result {typ}:{key} fields {got} != {want}")
        if scores is not None:
            s = float(f.get("score") or "nan")
            if not abs(s - scores[i]) <= SCORE_TOL:
                problems.append(f"result {typ}:{key} score {s} != {scores[i]:.6f}")
            if not abs(s - fts_scores[i]) <= SCORE_TOL and not notes:
                notes.append(f"score {s} where FTS5 bm25() gives {fts_scores[i]:.4f} "
                             f"({typ}:{key})")
        if typ == "tpch.db/orders":
            o = orders.get(key)
            got = (f.get("display.o_orderkey"), f.get("display.c_name"),
                   f.get("display.c_mktsegment"))
            if o is None or got != (str(o[0]), o[2], o[3]) or \
                    float(f.get("display.o_totalprice") or "nan") != o[1]:
                problems.append(f"result {typ}:{key} display columns {got} != {o}")
        page_rows.append(i)
        page_scores.append(f.get("score"))

    # order: the page is sorted by the documented total order, and no row
    # left off the page ranks before its last row
    if q and sort not in ("newest", "oldest"):
        # scores within SCORE_TOL count as tied: ties are not checked
        # against rows left off the page, whose engine score is unknown
        def rank_cmp(a, b):
            sa, sb = scores[a], scores[b]
            return -1 if sa > sb + SCORE_TOL else (1 if sb > sa + SCORE_TOL else 0)
        newest = _cmp_time(True)
        pairs = list(zip(zip(page_rows, page_scores), zip(page_rows[1:], page_scores[1:])))
        # equal page scores tie-break by timestamp desc, type, key
        ok_order = all(scores[a] >= scores[b] - SCORE_TOL and
                       (sa != sb or newest(rows[a][3:4] + rows[a][0:2],
                                           rows[b][3:4] + rows[b][0:2]) < 0)
                       for (a, sa), (b, sb) in pairs)
    else:
        c = _cmp_time(sort != "oldest")
        def rank_cmp(a, b):
            return c(rows[a][3:4] + rows[a][0:2], rows[b][3:4] + rows[b][0:2])
        ok_order = all(rank_cmp(a, b) < 0 for a, b in zip(page_rows, page_rows[1:]))
    if not ok_order:
        problems.append("results are not in the documented order")
    if page_rows and len(page_rows) == len(results):
        on_page = set(page_rows)
        last = page_rows[-1]
        missed = [i for i in base if i not in on_page and rank_cmp(i, last) < 0]
        if missed:
            problems.append(f"{len(missed)} rows rank before the last result but are "
                            f"missing, e.g. {rows[missed[0]][:2]}")
    return problems, notes


def check_serve(res, data_dir, terms):
    problems, notes = [], []
    con = duck(data_dir)
    rows = oracle_index(con, res["checks"]["oracle_index_sql"])
    db = fts(rows)
    orders = {str(k): (k, p, n, s) for k, p, n, s in con.execute(
        "SELECT o_orderkey, o_totalprice, c_name, c_mktsegment "
        "FROM orders JOIN customer ON o_custkey = c_custkey").fetchall()}
    for e in res["checks"]["pages"]:
        if not e["ok"] or e["status"] != 200:
            continue  # failed requests are counted, not checked
        if not e["repeats_identical"]:
            problems.append(f"{e['query']}: repeats returned different pages")
        with open(e["file"], encoding="utf-8") as f:
            page = f.read()
        ps, ns = check_page(e, terms[e["query"]], page, rows, db, orders)
        problems += [f"{e['cls']}/{e['slot']} {e['query']}: {p}" for p in ps[:5]]
        notes += [f"{e['cls']}/{e['slot']} {e['query']}: {n}" for n in ns]
    return problems, notes


# ---- dedup ------------------------------------------------------------

def _typed(value, typ):
    import datetime
    import decimal
    if value is None:
        return None
    if typ in ("double", "float"):
        return float(value)  # also "NaN" and "Infinity", sent as strings
    if typ.startswith("decimal"):
        return decimal.Decimal(value)
    if typ == "timestamp" or typ == "timestamp_ntz":
        return datetime.datetime.fromisoformat(value)
    if typ == "date":
        return datetime.date.fromisoformat(value)
    return value


def _simhash_property(rows, columns, con):
    """Equal texts get equal signatures; every signature fits in 60 bits."""
    names = [c for c, _ in columns]
    sig = {r[names.index("doc_id")]: r[names.index("simhash")] for r in rows}
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    problems = []
    if set(sig) != set(texts):
        problems.append("simhash: not one row per document")
    if any(s is None or not 0 <= s < 2 ** 60 for s in sig.values()):
        problems.append("simhash: a signature outside [0, 2^60)")
    by_text = collections.defaultdict(set)
    for d, t in texts.items():
        by_text[t].add(sig.get(d))
    if any(len(s) > 1 for s in by_text.values()):
        problems.append("simhash: equal texts with different signatures")
    return problems


def _calibration_property(rows, columns):
    """Matching minima are non-negative; permille Jaccard lies in the
    verified band [400, 1000] with min <= mean <= max; the row with the
    most matching minima holds the exact duplicates (Jaccard 1000)."""
    names = [c for c, _ in columns]
    col = {c: names.index(c) for c in names}
    problems = []
    for r in rows:
        n, s = r[col["n_pairs"]], r[col["sum_jac_permille"]]
        lo, hi = r[col["min_jac_permille"]], r[col["max_jac_permille"]]
        if not (n > 0 and 400 <= lo <= s / n <= hi <= 1000 and r[col["matching_mins"]] >= 0):
            problems.append(f"minhash_calibration: row {r} breaks the method's bounds")
    top = max(rows, key=lambda r: r[col["matching_mins"]], default=None)
    if top is None or top[col["max_jac_permille"]] != 1000:
        problems.append("minhash_calibration: no row holds the exact duplicates")
    return problems


def check_dedup(res, data_dir):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check as comparator  # tools/check.py: the oracle board's comparator
    problems = []
    con = duck(data_dir)
    for q in res["checks"]["queries"]:
        with open(q["rows"], encoding="utf-8") as f:
            raw = json.load(f)
        columns = q["columns"]
        rows = [tuple(_typed(v, t) for v, (_, t) in zip(r, columns)) for r in raw]
        if q["name"] == "x_dedup_simhash":
            problems += _simhash_property(rows, columns, con)
        if q["name"] == "x_dedup_minhash_calibration":
            problems += _calibration_property(rows, columns)
        if q["oracle"] is None:
            continue
        order = sorted(range(len(columns)), key=lambda i: columns[i][0])
        mine_cols = [columns[i][0] for i in order]
        mine = sorted((tuple(r[i] for i in order) for r in rows), key=comparator.row_key)
        ora = con.sql(q["oracle"])
        ora_cols = sorted(ora.columns)
        ora_rows = sorted(con.sql(
            f"SELECT {', '.join(comparator.repr_col(c) for c in ora_cols)} FROM ora").fetchall(),
            key=comparator.row_key)
        if mine_cols != ora_cols:
            problems.append(f"{q['name']}: columns {mine_cols} != {ora_cols}")
        elif len(mine) != len(ora_rows):
            problems.append(f"{q['name']}: {len(mine)} rows != oracle {len(ora_rows)}")
        else:
            for a, b in zip(mine, ora_rows):
                if tuple(map(comparator.norm, a)) != tuple(map(comparator.norm, b)):
                    problems.append(f"{q['name']}: row {a} != oracle {b}")
                    break
    return problems


def check(workload, res, data_dir, terms=None):
    """(problems, notes). Problems make the run incorrect; notes record
    where the program knowingly differs from the reference engine."""
    if workload in ("build", "batch"):
        return check_build(res, data_dir), []
    if workload.startswith("serve"):
        return check_serve(res, data_dir, terms)
    return check_dedup(res, data_dir), []
