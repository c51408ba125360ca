"""Untimed correctness checks: the program's outputs against independent
DuckDB computations over the same generated inputs.

Each check returns a list of problems; an empty list means correct.
"""
import csv
import glob
import os
from collections import Counter

import duckdb

# ---- shared helpers ----------------------------------------------------


def read_spark_csv(d):
    """Rows of the single-file CSV a CsvSink wrote into directory d, as
    (header, Counter of row tuples). Spark writes null as an empty field
    and the empty string as "", which csv reads back alike; the oracle
    side maps NULL to '' to match."""
    files = glob.glob(os.path.join(d, "part-*.csv"))
    if len(files) != 1:
        raise ValueError(f"{d}: expected one CSV part file, found {len(files)}")
    with open(files[0], newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    return rows[0], Counter(tuple(r) for r in rows[1:])


def as_text(v):
    return "" if v is None else str(v)


def compare_rows(what, got_header, got, exp_header, exp_rows):
    """Compare a Counter of string tuples against oracle rows, matching
    columns by name."""
    if sorted(got_header) != sorted(exp_header):
        return [f"{what}: columns {got_header} != {exp_header}"]
    order = [exp_header.index(c) for c in got_header]
    exp = Counter(tuple(as_text(r[i]) for i in order) for r in exp_rows)
    if got == exp:
        return []
    missing = exp - got
    extra = got - exp
    return [f"{what}: {sum(missing.values())} expected rows missing, "
            f"{sum(extra.values())} unexpected rows "
            f"(e.g. missing {next(iter(missing), None)}, "
            f"extra {next(iter(extra), None)})"]


# ---- etl_month ---------------------------------------------------------

_ENVELOPE = ("{'_id': 'VARCHAR', '_index': 'VARCHAR', '_score': 'BIGINT', "
             "'_type': 'VARCHAR', '_source': 'STRUCT(Contract VARCHAR, "
             "Mac VARCHAR, TotalDuration BIGINT, AppName VARCHAR)'}")

_CATEGORY = """CASE
  WHEN AppName IN ('CHANNEL','DSHD','KPLUS','KPlus') THEN 'TVDuration'
  WHEN AppName IN ('VOD','FIMS_RES','BHD_RES','VOD_RES','FIMS','BHD','DANET')
    THEN 'MovieDuration'
  WHEN AppName = 'RELAX' THEN 'RelaxDuration'
  WHEN AppName = 'CHILD' THEN 'ChildDuration'
  WHEN AppName = 'SPORT' THEN 'SportDuration'
  ELSE 'Error' END"""

_CATS = ["ChildDuration", "MovieDuration", "RelaxDuration", "SportDuration",
         "TVDuration"]
_LABELS = ["Thiếu nhi", "Phim truyện", "Giải trí", "Thể thao", "Truyền hình"]


def _etl_base(files):
    lst = ", ".join(f"'{f}'" for f in files)
    return f"""raw AS (
  SELECT _source.Contract AS Contract, _source.TotalDuration AS TotalDuration,
         _source.AppName AS AppName
  FROM read_json([{lst}], format='newline_delimited', columns={_ENVELOPE})),
typed AS (SELECT *, {_CATEGORY} AS Type FROM raw),
valid AS (SELECT * FROM typed WHERE Contract <> '0' AND Type <> 'Error')"""


def _pivot(zero_fill):
    def one(c):
        s = f"sum(TotalDuration) FILTER (WHERE Type = '{c}')"
        return f"CAST({'coalesce(' + s + ', 0)' if zero_fill else s} AS BIGINT) AS {c}"
    return ", ".join(one(c) for c in _CATS)


def etl_month_sql(files):
    greatest = "greatest(" + ", ".join(_CATS) + ")"
    most = "CASE " + " ".join(
        f"WHEN {c} = {greatest} THEN '{l}'" for c, l in zip(_CATS, _LABELS)) + " END"
    taste = "concat_ws('-', " + ", ".join(
        f"CASE WHEN {c} <> 0 THEN '{l}' END" for c, l in zip(_CATS, _LABELS)) + ")"
    days = "(" + " + ".join(_CATS) + ") / 86400.0"
    return f"""WITH {_etl_base(files)},
dev AS (SELECT Contract, CAST(count(*) AS BIGINT) AS TotalDevices
        FROM raw GROUP BY Contract),
piv AS (SELECT Contract, {_pivot(True)} FROM valid GROUP BY Contract),
j AS (SELECT piv.*, dev.TotalDevices FROM piv JOIN dev USING (Contract))
SELECT *, {most} AS most_watch, {taste} AS Taste,
  CASE WHEN {days} < 10 THEN 'Low' WHEN {days} < 20 THEN 'Medium'
       ELSE 'High' END AS Active_day
FROM j"""


def etl_day_sql(path, iso_date):
    return f"""WITH {_etl_base([path])}
SELECT Contract, {_pivot(False)}, '{iso_date}' AS Date
FROM valid GROUP BY Contract"""


def check_etl_month(data, work, info):
    logs = os.path.join(data, "logs")
    files = sorted(glob.glob(os.path.join(logs, "*.json")))
    con = duckdb.connect()
    problems = []

    def check(what, out_dir, sql):
        try:
            header, got = read_spark_csv(out_dir)
        except (OSError, ValueError) as e:
            return [f"{what}: {e}"]
        rel = con.sql(sql)
        return compare_rows(what, header, got, rel.columns, rel.fetchall())

    if info.get("month_checked"):
        problems += check("month report", os.path.join(work, "out", "month"),
                          etl_month_sql(files))
    else:
        problems.append("month report: never completed")
    for day in info.get("days_run", []):
        iso = f"{day[:4]}-{day[4:6]}-{day[6:]}"
        problems += check(f"daily job {day}",
                          os.path.join(work, "out", "daily", day),
                          etl_day_sql(os.path.join(logs, f"{day}.json"), iso))
    if "olap_oracle_sql" in info:  # the traced run's analytics probe ran
        problems += check_olap(os.path.join(data, "olap"), work, info)
    return problems


CHECKS = {
    "etl_month": check_etl_month,
}


def check(workload, data, work, info):
    return CHECKS[workload](data, work, info)


# ---- index_daily -------------------------------------------------------

def _served(what, rows, admitted, live):
    """Problems with one served set, independent of the program: every
    admitted id is in the batch, every fresh doc (random text, copying
    nothing) is admitted, and no verbatim copy of a live doc is."""
    problems = []
    ids = {r[0] for r in rows}
    if not admitted <= ids:
        problems.append(f"{what}: {len(admitted - ids)} admitted ids outside the batch")
    for doc_id, src, exact in rows:
        if src < 0 and doc_id not in admitted:
            problems.append(f"{what}: fresh doc {doc_id} rejected")
        if exact and src in live and doc_id in admitted:
            problems.append(f"{what}: verbatim copy {doc_id} of live doc {src} admitted")
    return problems


def _vectors(data):
    """vec_id -> float64 vector, for the corpus and every batch."""
    import numpy as np
    import pyarrow.parquet as pq
    vecs = {}
    for name in ("corpus_vecs", "batch_vecs"):
        t = pq.read_table(os.path.join(data, f"{name}.parquet"),
                          columns=["vec_id", "embedding"]).to_pydict()
        for i, v in zip(t["vec_id"], t["embedding"]):
            vecs[i] = np.asarray(v, dtype=np.float64)
    return vecs


def _ivf_served(what, queries, live, rows, vecs, k=5, tol=1e-9):
    """Problems with one day's IVF serve, independent of the program: it
    probes every list, so each query's rows must be an exact cosine
    top-k over the live vectors (ties within `tol` may go either way),
    ranked 1..k by falling cosine."""
    import numpy as np
    ids = sorted(live)
    mat = np.stack([vecs[i] for i in ids])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    pos = {i: n for n, i in enumerate(ids)}
    got = {}
    for q, n, rk in rows:
        got.setdefault(q, []).append((rk, n))
    bad = []
    for q in queries:
        v = vecs[q] / np.linalg.norm(vecs[q])
        cos = mat @ v
        want = min(k, len(ids))
        kth = np.sort(cos)[-want]
        served = sorted(got.pop(q, []))
        ns = [n for _, n in served]
        if ([rk for rk, _ in served] != list(range(1, want + 1))
                or len(set(ns)) != want or not all(n in pos for n in ns)):
            bad.append(q)
            continue
        sc = [cos[pos[n]] for n in ns]
        if (min(sc) < kth - tol
                or any(a < b - tol for a, b in zip(sc, sc[1:]))):
            bad.append(q)
    problems = []
    if bad:
        problems.append(f"{what}: {len(bad)} queries without the exact top-{k}, "
                        f"first {bad[0]}")
    if got:
        problems.append(f"{what}: rows for {len(got)} ids that are not queries")
    return problems


def check_index_daily(data, work, info):
    """Each day's served set passes `_served`, and its IVF top-k
    `_ivf_served`, with the live set replayed as corpus + admitted -
    deleted in the order the days ran (day 0 first); the final
    live doc and vector sets equal that replay. Since day d copies only
    docs of days before d, a fresh doc has no live copy when it is
    served, so it must be admitted. The harness JVM's own
    identity check (a served set against a rebuild's, compared with
    multisetEq) must also have held."""
    con = duckdb.connect()

    batch = con.sql(f"SELECT doc_id, day, src_id, exact FROM "
                    f"'{os.path.join(data, 'batch_docs.parquet')}'").fetchall()
    corpus = {r[0] for r in con.sql(
        f"SELECT doc_id FROM '{os.path.join(data, 'corpus_docs.parquet')}'").fetchall()}
    deletes = {}
    with open(os.path.join(data, "deletes.txt")) as f:
        for line in f:
            d, i = line.split()
            deletes.setdefault(int(d), set()).add(int(i))
    problems = []
    if "stream_rate_docs_per_s" in info and info.get("check_stream_batch_serve") is not True:
        problems.append("stream: admitted ids differ from one batch serve")
    mismatch = info.get("minhash_rebuild_mismatch_days")
    if not info.get("minhash_rebuild_days") or mismatch is None or mismatch:
        problems.append(f"served sets differ from a rebuild's on days {mismatch}")
    admitted = {int(d): set(ids) for d, ids in info.get("admitted", {}).items()}
    ivf = {int(d): rows for d, rows in info.get("ivf_served", {}).items()}
    if not admitted:
        problems.append("no index day completed")
    vecs = _vectors(data)
    live = set(corpus)
    for d in info.get("day_order", []):
        rows = [(r[0], r[2], r[3]) for r in batch if r[1] == d]
        problems += _served(f"day {d}", rows, admitted[d], live)
        if d not in ivf:
            problems.append(f"day {d}: no IVF serve recorded")
        else:
            problems += _ivf_served(f"day {d} IVF", [r[0] for r in rows], live,
                                    ivf[d], vecs)
        live |= admitted[d]
        live -= deletes.get(d, set())
    for key in ("live_doc_ids", "live_vec_ids"):
        got = set(info.get(key, []))
        if got != live:
            problems.append(f"{key}: {len(got - live)} unexpected, {len(live - got)} missing")
    return problems


CHECKS["index_daily"] = check_index_daily


# ---- olap_hot ----------------------------------------------------------

OLAP_TABLES = ("region nation customer supplier part orders lineitem events "
               "documents embeddings").split()


def _normalize(rows):
    out = [tuple(round(v, 9) if isinstance(v, float) else v for v in r)
           for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def check_olap(data, work, info):
    """Each query's output (columns by name, rows as a multiset, floats to
    9 digits) equals its oracle SQL (SparkEntry.oracleSql) run by DuckDB
    over the same generated tables."""
    con = duckdb.connect()
    for t in OLAP_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")
    problems = []
    for name, sql in sorted(info.get("olap_oracle_sql", {}).items()):
        files = glob.glob(os.path.join(work, "olap", name, "*.parquet"))
        if len(files) != 1:
            problems.append(f"{name}: expected one output file, found {len(files)}")
            continue
        got_rel = con.sql(f"SELECT * FROM '{files[0]}'")
        exp_rel = con.sql(sql)
        got_cols, exp_cols = sorted(got_rel.columns), sorted(exp_rel.columns)
        if [c.lower() for c in got_cols] != [c.lower() for c in exp_cols]:
            problems.append(f"{name}: columns {got_cols} vs {exp_cols}")
            continue
        got = _normalize(got_rel.select(*got_cols).fetchall())
        exp = _normalize(exp_rel.select(*exp_cols).fetchall())
        if got != exp:
            diff = [(g, e) for g, e in zip(got, exp) if g != e][:2]
            problems.append(f"{name}: rows {len(got)} vs {len(exp)}; first diffs {diff}")
    return problems


