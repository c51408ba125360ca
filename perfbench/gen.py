"""Seeded input generators, one per workload.

Every generator takes the seed and an output directory and writes the
same bytes for the same seed. Randomness comes from random.Random
seeded with a string, which Python hashes deterministically.
"""
import json
import os
import random

# ---- etl_month -------------------------------------------------------

ETL_DAYS = [f"202204{d:02d}" for d in range(1, 31)]
ETL_ROWS_PER_DAY = 10000
ETL_CONTRACTS = 6000
# the 14 mapped app codes (case-sensitive), plus codes the ETL maps to
# its "Error" category
ETL_APPS = ["CHANNEL", "DSHD", "KPLUS", "KPlus", "VOD", "FIMS_RES",
            "BHD_RES", "VOD_RES", "FIMS", "BHD", "DANET", "RELAX",
            "CHILD", "SPORT"]
ETL_UNMAPPED = ["IPTV", "FSHARE", "kplus"]


def etl_month(seed, out, rows_per_day=ETL_ROWS_PER_DAY):
    """30 daily ES-envelope JSONL files plus rows.txt ("yyyymmdd rows")."""
    base = os.path.join(out, "logs")
    os.makedirs(base, exist_ok=True)
    counts = []
    for day in ETL_DAYS:
        rnd = random.Random(f"etl:{seed}:{day}")
        lines = []
        for i in range(rows_per_day):
            r = rnd.random()
            if r < 0.02:
                contract = "0"
            else:
                # skewed pool: a few heavy contracts reach the Medium and
                # High activity buckets of the month report
                k = int(ETL_CONTRACTS * rnd.random() ** 3)
                contract = f"HN{'ABCDEFGH'[k % 8]}{k:06d}"
            app = (rnd.choice(ETL_UNMAPPED) if rnd.random() < 0.05
                   else rnd.choice(ETL_APPS))
            mac = f"{rnd.getrandbits(48):012X}"
            lines.append(
                '{"_index":"history","_type":"%s","_id":"%s%07d",'
                '"_score":0,"_source":{"Contract":"%s","Mac":"%s",'
                '"TotalDuration":%d,"AppName":"%s"}}'
                % (app.lower(), day, i, contract, mac,
                   rnd.randint(1, 10800), app))
        with open(os.path.join(base, f"{day}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        counts.append(f"{day} {rows_per_day}")
    with open(os.path.join(base, "rows.txt"), "w") as f:
        f.write("\n".join(counts) + "\n")
    return {"rows": rows_per_day * len(ETL_DAYS)}


# ---- documents and vectors (index_daily) ------------------------------

_SYL = ["ka", "lo", "mi", "ne", "to", "ra", "su", "vi", "de", "po", "an",
        "el", "ur", "is", "om", "ba", "ce", "fu", "gi", "ho"]
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL[:3]]
DIM = 32
N_CLUSTERS = 16


def _text(rnd):
    return " ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(25, 60)))


def _near_copy(rnd, text):
    """One or two word substitutions: Jaccard of 3-shingles stays well
    above 0.5, so the copy is a near-duplicate of its source."""
    words = text.split()
    for _ in range(rnd.randint(1, 2)):
        words[rnd.randrange(len(words))] = rnd.choice(VOCAB)
    return " ".join(words)


def _vector(rnd, centers, near=None):
    base = near if near is not None else centers[rnd.randrange(len(centers))]
    scale = 0.02 if near is not None else 0.3
    return [x + rnd.gauss(0.0, scale) for x in base]


def _centers(rnd):
    return [[rnd.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(N_CLUSTERS)]


def _write_docs(path, rows, extra=()):
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = {"doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string())}
    for i, name in enumerate(extra):
        cols[name] = pa.array([r[2 + i] for r in rows], pa.int64())
    pq.write_table(pa.table(cols), path)


def _write_vecs(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "day": pa.array([r[0] for r in rows], pa.int64()),
        "vec_id": pa.array([r[1] for r in rows], pa.int64()),
        "embedding": pa.array([r[2] for r in rows], pa.list_(pa.float32())),
    }), path)


def _batch(rnd, ids, pool, dup_share):
    """Docs with the given ids: `dup_share` of them copy a doc of `pool`
    (a third of those verbatim, the rest with 1-2 substitutions).
    Returns rows (id, text, source id or -1, exact flag)."""
    out = []
    for i in ids:
        if pool and rnd.random() < dup_share:
            src_id, src_text = rnd.choice(pool)
            exact = rnd.random() < 1 / 3
            out.append((i, src_text if exact else _near_copy(rnd, src_text),
                        src_id, int(exact)))
        else:
            out.append((i, _text(rnd), -1, 0))
    return out


INDEX_CORPUS = 1500
INDEX_DAYS = 30
INDEX_BATCH = 100
INDEX_DELETES = 10
INDEX_DUP_SHARE = 0.2
STREAM_FILES = 16
STREAM_FILE_DOCS = 20


def index_daily(seed, out):
    """A standing corpus of docs and vectors, then INDEX_DAYS daily
    batches (ids increasing) with a fixed near-duplicate share and a
    daily delete list drawn from the standing corpus. Day d copies from
    the corpus and from the fresh docs of days before d, so a serve
    sees what earlier days appended. A copy's vector lies near its
    source's."""
    rnd = random.Random(f"index:{seed}")
    centers = _centers(rnd)
    corpus = [(i, _text(rnd)) for i in range(INDEX_CORPUS)]
    vecs = {i: _vector(rnd, centers) for i, _ in corpus}
    _write_docs(os.path.join(out, "corpus_docs.parquet"), corpus)
    _write_vecs(os.path.join(out, "corpus_vecs.parquet"),
                [(-1, i, v) for i, v in vecs.items()])

    def docs_and_vecs(day, rows):
        vec_rows = []
        for doc_id, _, src, _ in rows:
            vecs[doc_id] = _vector(rnd, centers, vecs.get(src))
            vec_rows.append((day, doc_id, vecs[doc_id]))
        return [(r[0], r[1], day, r[2], r[3]) for r in rows], vec_rows

    batch_rows, vec_rows, deletes = [], [], []
    victims = rnd.sample(range(INDEX_CORPUS), INDEX_DAYS * INDEX_DELETES)
    pool = list(corpus)
    next_id = INDEX_CORPUS
    for day in range(INDEX_DAYS):
        ids = range(next_id, next_id + INDEX_BATCH)
        next_id += INDEX_BATCH
        rows = _batch(rnd, ids, pool, INDEX_DUP_SHARE)
        day_docs, day_vecs = docs_and_vecs(day, rows)
        batch_rows += day_docs
        vec_rows += day_vecs
        pool += [(r[0], r[1]) for r in rows if r[2] < 0]
        deletes += [(day, v) for v in
                    victims[day * INDEX_DELETES:(day + 1) * INDEX_DELETES]]
    _write_docs(os.path.join(out, "batch_docs.parquet"), batch_rows,
                extra=("day", "src_id", "exact"))
    _write_vecs(os.path.join(out, "batch_vecs.parquet"), vec_rows)
    with open(os.path.join(out, "deletes.txt"), "w") as f:
        f.write("".join(f"{d} {i}\n" for d, i in deletes))
    with open(os.path.join(out, "meta.txt"), "w") as f:
        f.write(f"dim {DIM}\ncorpus_docs {INDEX_CORPUS}\nbatch_docs {INDEX_BATCH}\n")
    # files for the streaming probe of a traced run, ids after every
    # batch; copies come from the standing corpus only, so admission does
    # not depend on which earlier stream docs were themselves rejected
    staged = os.path.join(out, "stream")
    os.makedirs(staged)
    for k in range(STREAM_FILES):
        ids = range(next_id, next_id + STREAM_FILE_DOCS)
        next_id += STREAM_FILE_DOCS
        rows = [(r[0], r[1]) for r in _batch(rnd, ids, corpus, INDEX_DUP_SHARE)]
        _write_docs(os.path.join(staged, f"f{k:05d}.parquet"), rows)
    return {"corpus_docs": INDEX_CORPUS, "days": INDEX_DAYS,
            "batch_docs": INDEX_BATCH, "deletes_per_day": INDEX_DELETES,
            "stream_files": STREAM_FILES,
            "stream_file_docs": STREAM_FILE_DOCS}


# ---- olap tables (the analytics probe of a traced etl_month run) -------

OLAP_SF = 0.02
OLAP_WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
              "filter", "small", "slow", "merge", "order", "vector", "line",
              "data", "table", "agg", "value", "key", "stream", "window",
              "spark", "a", "group", "part", "big", "sort", "query", "fast",
              "the"]


def olap_hot(seed, out, sf=OLAP_SF):
    """The ten star-schema, events, documents and embeddings tables the
    headline queries read, at scale factor `sf` (lineitem = 6M * sf rows),
    with the column types and value ranges of the oracle testdata."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq
    rnd = random.Random(f"olap:{seed}")
    n = {"customer": int(150000 * sf), "supplier": int(10000 * sf),
         "part": int(200000 * sf), "orders": int(1500000 * sf),
         "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
         "documents": int(50000 * sf), "embeddings": int(50000 * sf),
         "users": int(15000 * sf)}

    def cents(lo, hi):
        return rnd.randint(int(lo * 100), int(hi * 100)) / 100

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    i32, i64, f64, txt = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(regions, txt)})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], txt),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    nc = n["customer"]
    write("customer", {
        "c_custkey": pa.array(range(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], txt),
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(nc)], i32),
        "c_acctbal": pa.array([cents(-999.99, 9999.99) for _ in range(nc)], f64),
        "c_mktsegment": pa.array([rnd.choice(segs) for _ in range(nc)], txt)})
    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(range(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], txt),
        "s_nationkey": pa.array([rnd.randrange(25) for _ in range(ns)], i32),
        "s_acctbal": pa.array([cents(-999.99, 9999.99) for _ in range(ns)], f64)})
    npart = n["part"]
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    price = [round(900 + (i % 1000) / 10, 2) for i in range(npart)]
    write("part", {
        "p_partkey": pa.array(range(npart), i64),
        "p_name": pa.array([f"{rnd.choice(adj)} {rnd.choice(noun)}"
                            for _ in range(npart)], txt),
        "p_brand": pa.array([f"Brand#{rnd.randint(1, 25)}" for _ in range(npart)], txt),
        "p_type": pa.array([rnd.choice(types) for _ in range(npart)], txt),
        "p_size": pa.array([rnd.randint(1, 50) for _ in range(npart)], i32),
        "p_retailprice": pa.array(price, f64)})
    no = n["orders"]
    day0 = dt.datetime(1995, 1, 1)
    odate = [day0 + dt.timedelta(days=rnd.randrange(2404)) for _ in range(no)]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array([rnd.randrange(nc) for _ in range(no)], i64),
        "o_orderstatus": pa.array([rnd.choice("FOP") for _ in range(no)], txt),
        "o_totalprice": pa.array([cents(1000, 500000) for _ in range(no)], f64),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": pa.array([rnd.choice(prios) for _ in range(no)], txt)})
    nl = n["lineitem"]
    l_order = [rnd.randrange(no) for _ in range(nl)]
    l_part = [rnd.randrange(npart) for _ in range(nl)]
    l_qty = [float(rnd.randint(1, 50)) for _ in range(nl)]
    write("lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array([rnd.randrange(ns) for _ in range(nl)], i64),
        "l_linenumber": pa.array([rnd.randint(1, 7) for _ in range(nl)], i32),
        "l_quantity": pa.array(l_qty, f64),
        "l_extendedprice": pa.array([round(q * price[p], 2)
                                     for q, p in zip(l_qty, l_part)], f64),
        "l_discount": pa.array([rnd.randint(0, 10) / 100 for _ in range(nl)], f64),
        "l_tax": pa.array([rnd.randint(0, 8) / 100 for _ in range(nl)], f64),
        "l_returnflag": pa.array([rnd.choice("ANR") for _ in range(nl)], txt),
        "l_linestatus": pa.array([rnd.choice("FO") for _ in range(nl)], txt),
        "l_shipdate": pa.array([odate[o] + dt.timedelta(days=rnd.randint(1, 120))
                                for o in l_order], ts)})
    ne = n["events"]
    ev_day0 = dt.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10 ** 6
    ev_ts = sorted(rnd.randrange(span_us) for _ in range(ne))
    etypes = ["click", "view", "purchase", "signup", "error"]
    write("events", {
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array([ev_day0 + dt.timedelta(microseconds=t) for t in ev_ts], ts),
        "user_id": pa.array([rnd.randrange(n["users"]) for _ in range(ne)], i64),
        "event_type": pa.array([rnd.choice(etypes) for _ in range(ne)], txt),
        "value": pa.array([cents(0.01, 490) for _ in range(ne)], f64),
        "props": pa.array([f'{{"k": {rnd.randrange(100)}}}' for _ in range(ne)], txt)})
    nd = n["documents"]
    texts = []
    for _ in range(nd):
        if texts and rnd.random() < 0.05:
            # a planted near-duplicate: an earlier doc plus "dup"
            texts.append(rnd.choice(texts) + " dup" * rnd.randint(1, 2))
        else:
            texts.append(" ".join(rnd.choice(OLAP_WORDS)
                                  for _ in range(rnd.randint(10, 99))))
    langs = ["en", "en", "en", "zh", "de", "fr", "es"]
    write("documents", {
        "doc_id": pa.array(range(nd), i64),
        "text": pa.array(texts, txt),
        "lang": pa.array([rnd.choice(langs) for _ in range(nd)], txt),
        "source": pa.array([f"src{rnd.randrange(20)}" for _ in range(nd)], txt),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv = n["embeddings"]
    vecs = []
    for _ in range(nv):
        v = [rnd.gauss(0.0, 1.0) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    write("embeddings", {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rnd.randrange(10) for _ in range(nv)], i32)})
    return {"sf": sf, "rows": {k: v for k, v in n.items() if k != "users"}}


GENERATORS = {
    "etl_month": etl_month,
    "index_daily": index_daily,
}


def generate(workload, seed, out, traced=False):
    """The workload's inputs; a traced etl_month run also gets the olap
    tables its analytics probe reads."""
    os.makedirs(out, exist_ok=True)
    info = GENERATORS[workload](seed, out)
    if traced and workload == "etl_month":
        os.makedirs(os.path.join(out, "olap"))
        info["olap"] = olap_hot(seed, os.path.join(out, "olap"))
    return info


def tree_files(root):
    """Relative paths of all files under root, sorted."""
    found = []
    for d, _, files in os.walk(root):
        for name in files:
            found.append(os.path.relpath(os.path.join(d, name), root))
    return sorted(found)


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
