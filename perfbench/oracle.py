"""Output checks that do not trust the program.

Every expected result is computed by DuckDB from the benchmark's own
input files.  Program outputs are read back as Arrow tables, or
straight from the files the program wrote, and compared as multisets of
canonical rows.  Each check returns a list of problems; an empty list
means the check passed.

``corrupt=True`` damages one program output per check before comparing,
to show that each check fails on a wrong result.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
from collections import Counter

import duckdb

JACCARD_THRESHOLD = 0.5  # the dedup operators' default threshold
PLANTED_MIN_JACCARD = 0.8


def canon(v) -> object:
    """Cell value compared across engines: doubles to 9 decimals."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9) + 0.0
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def arrow_rows(df) -> tuple[list[str], list[tuple]]:
    t = df.toArrow()
    return t.column_names, [tuple(r.values()) for r in t.to_pylist()]


def _duck(sql: str, con) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _damage(rows: list[tuple]) -> list[tuple]:
    """Change one cell of the first row (numbers +1, text gets a suffix)."""
    if not rows:
        return [("corrupt",)]
    row = list(rows[0])
    for i, v in enumerate(row):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            row[i] = v + 1
            break
        if isinstance(v, str):
            row[i] = v + "#"
            break
    return [tuple(row)] + rows[1:]


def compare(label: str, got: tuple[list[str], list[tuple]],
            want: tuple[list[str], list[tuple]]) -> list[str]:
    gcols, grows = got
    wcols, wrows = want
    if sorted(gcols) != sorted(wcols):
        return [f"{label}: columns {sorted(gcols)} != {sorted(wcols)}"]
    order = [wcols.index(c) for c in gcols]
    g = Counter(tuple(canon(v) for v in r) for r in grows)
    w = Counter(tuple(canon(r[i]) for i in order) for r in wrows)
    if g == w:
        return []
    extra, missing = g - w, w - g
    return [f"{label}: {sum(extra.values())} unexpected rows, {sum(missing.values())} "
            f"missing (of {len(wrows)}); e.g. unexpected {list(extra)[:1]} "
            f"missing {list(missing)[:1]}"]


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    return con


def _pq(path: str) -> str:
    return f"read_parquet('{path}')"


# ----------------------------------------------------------------- ERP
def check_erp(events_dir, rollup_target, audit_log, n_runs, gl_path, order_files,
              dims, gl_oracle, corrupt=False) -> list[str]:
    con = _con()
    problems = []
    events = _pq(os.path.join(events_dir, "*.parquet"))

    # 1) Rollup target == a from-scratch rollup of every landed event.
    got = _duck(f"SELECT * FROM {_pq(os.path.join(rollup_target, '*.parquet'))}", con)
    if corrupt:
        got = (got[0], _damage(got[1]))
    want = _duck(f"""
        SELECT CAST(ts AS DATE) AS event_date, event_type,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
               COUNT(*) AS n_events
        FROM {events} GROUP BY 1, 2""", con)
    problems += compare("erp rollup target", got, want)

    # 2) Audit log: one row per run; rows_extracted sums to the event count.
    n_log, extracted = con.execute(
        f"SELECT COUNT(*), SUM(rows_extracted) FROM "
        f"{_pq(os.path.join(audit_log, '*.parquet'))}").fetchone()
    n_events = con.execute(f"SELECT COUNT(*) FROM {events}").fetchone()[0]
    if corrupt:
        n_log, extracted = n_log + 1, extracted + 1
    if n_log != n_runs:
        problems.append(f"erp audit log: {n_log} rows for {n_runs} runs")
    if extracted != n_events:
        problems.append(f"erp audit log: rows_extracted sum {extracted} != {n_events} events")

    # 3) Latest GL snapshot == the registry's gl_enrichment oracle over the
    #    last-writer-wins order state (later batches replace re-sent orders).
    manifests = glob.glob(os.path.join(gl_path, "_manifests", "v*.json"))
    latest = max(manifests, key=lambda p: int(os.path.basename(p)[1:-5]))
    with open(latest) as f:
        files = [os.path.join(gl_path, e) for e in json.load(f)["files"]]
    got = _duck(f"SELECT * FROM read_parquet({files!r})", con)
    if corrupt:
        got = (got[0], _damage(got[1]))
    union = " UNION ALL ".join(
        f"SELECT *, {seq} AS _seq FROM {_pq(p)}" for seq, p in enumerate(order_files))
    con.execute(f"""CREATE VIEW orders AS SELECT * EXCLUDE (_seq, _rk) FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY _seq DESC) AS _rk
        FROM ({union})) WHERE _rk = 1""")
    for t in ("customer", "nation", "region", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_pq(os.path.join(dims, t + '.parquet'))}")
    problems += compare("erp GL snapshot", got, _duck(gl_oracle, con))
    return problems


# --------------------------------------------------------------- dedup
_SHINGLES = """
    SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS shingle
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}))
"""


def _exact_pairs(con, docs: str, cap: int):
    """Brute-force 3-word-shingle Jaccard of every pair of documents that
    share a shingle, over shingles in at most ``cap`` documents."""
    return con.execute(f"""
        WITH sh AS ({_SHINGLES.format(src=docs)}),
        kept AS (SELECT * FROM sh WHERE shingle NOT IN (
                     SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {cap})),
        n AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
        inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ni
                  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT da, db, CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE)
        FROM inter JOIN n na ON na.doc_id = da JOIN n nb ON nb.doc_id = db
    """).fetchall()


def _pairs(rows) -> Counter:
    """(unordered pair, Jaccard) -> count, so a pair listed twice shows."""
    return Counter(((min(a, b), max(a, b)), canon(j)) for a, b, j in rows)


def check_dedup(inputs, pairs, cap, corrupt=False) -> list[str]:
    """``ngram_jaccard_pairs`` must return exactly the brute-force pairs
    at Jaccard >= JACCARD_THRESHOLD, each with its Jaccard, among them
    every planted pair whose Jaccard is at least PLANTED_MIN_JACCARD."""
    con = _con()
    docs = _pq(os.path.join(inputs, "documents.parquet"))
    with open(os.path.join(inputs, "planted.json")) as f:
        planted = json.load(f)
    all_pairs = _exact_pairs(con, docs, cap)
    exact = _pairs([r for r in all_pairs if r[2] >= JACCARD_THRESHOLD])
    jaccard = {(min(a, b), max(a, b)): j for a, b, j in all_pairs}
    strong = [p for p in ((min(p), max(p)) for p in planted)
              if jaccard.get(p, 0.0) >= PLANTED_MIN_JACCARD]
    if not strong:
        return [f"dedup: no planted pair reaches Jaccard {PLANTED_MIN_JACCARD}"]
    got = _pairs(pairs)
    if corrupt:  # one pair the exact result lacks, one planted pair dropped
        got[((-1, -2), 1.0)] += 1
        for k in [k for k in got if k[0] == strong[0]]:
            del got[k]
    out = []
    extra, missing = got - exact, exact - got
    if extra or missing:
        out.append(f"dedup: {sum(extra.values())} pairs not in the exact result, "
                   f"{sum(missing.values())} missing (exact has {sum(exact.values())}); "
                   f"e.g. {list(extra or missing)[:1]}")
    have = {p for p, _ in got}
    missed = [p for p in strong if p not in have]
    if missed:
        out.append(f"dedup: misses {len(missed)} of {len(strong)} planted pairs "
                   f"at Jaccard >= {PLANTED_MIN_JACCARD}, e.g. {missed[0]}")
    return out
