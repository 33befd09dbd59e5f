"""Seeded input generators for the three workloads.

Every table is written as parquet with the physical types the engine's
table contracts expect (graft.core.T). The same seed always gives the same
bytes of data; nothing here reads anything but its arguments.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days_from_epoch):
    return pa.array(days_from_epoch.astype("datetime64[D]").astype("datetime64[us]"))


def _doc_texts(rng, n):
    """Word-bag documents over a 30-word vocabulary: 10 to 100 tokens, about
    5% near-duplicates (an earlier doc plus trailing 'dup' tokens) and a few
    exact copies, like the engine's reference test corpus."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def documents(rng, n):
    texts = _doc_texts(rng, n)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dims=64, labels=10):
    centers = rng.normal(0, 1, (labels, dims))
    lab = rng.integers(0, labels, n)
    v = centers[lab] + rng.normal(0, 1.2, (n, dims))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32)),
    }


def sf_tables(out, seed, scale):
    """The ten tables of the engine's query suite, sized like the reference
    test data at scale factor `scale` (0.01: 60,000 lineitem rows)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_line = int(1500000 * scale), int(6000000 * scale)
    n_ev, n_users = int(1000000 * scale), int(15000 * scale)
    n_docs = int(50000 * scale)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust))})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))})
    d0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(d0 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(d0 + 1 + rng.integers(0, 2498, n_line))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(["click", "signup", "error", "view", "purchase"], n_ev)),
        "value": pa.array(np.round(np.minimum(rng.exponential(50, n_ev), 490) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(f"{out}/documents.parquet", documents(rng, n_docs))
    _write(f"{out}/embeddings.parquet", embeddings(rng, n_docs))


# ---------------------------------------------------------------- dashboard

CITIES = ["Medellín", "Bogotá", "Cali"]
OFFICES = ["L1", "L2", "L3"]
LAKE_START = dt.date(2023, 7, 3)


def lake(out, seed, models, days):
    """The reference lake's four string-typed tables (users, both
    platforms' daily performance, earnings by performer), scaled from the
    engine's domain fixtures: users matched by one account, by both or by
    neither, artistic names shared across ids, and about two years of days
    across an ISO-year boundary."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    users = []
    for i in range(1, models + 1):
        kind = i % 10  # 0: neither account, 1: streamate only, 2: jasmin only
        name = f"Artist {i - 1}" if i % 12 == 0 else f"Artist {i}"  # shared names
        users.append({
            "_id": f"u{i}", "artisticname": name,
            "city": CITIES[i % 3], "office": OFFICES[(i // 3) % 3],
            "room": f"R{i}", "picture": f"http://pic/{i}.jpg",
            "streamateuser": None if kind in (0, 2) else f"sm{i}@models1a.com",
            "jasminuser": None if kind in (0, 1) else f"jm{i}@models1a.com"})
    cols = ["_id", "artisticname", "city", "office", "room", "picture",
            "streamateuser", "jasminuser"]
    _write(f"{out}/users.parquet", {c: pa.array([u[c] for u in users], pa.string()) for c in cols})
    dates = [(LAKE_START + dt.timedelta(days=d)).isoformat() for d in range(days)]
    for plat, key in (("jasmin", "jasminuser"), ("streamate", "streamateuser")):
        ids = [u["_id"] for u in users if u[key] is not None]
        rows = {c: [] for c in ["_id", "date", "total_earnings", "online_seconds", "file"]}
        mask = rng.random((len(ids), days)) < 0.8
        amt = _money(rng, 1, 500, mask.size).reshape(mask.shape)
        secs = rng.integers(0, 36000, mask.shape)
        for a, uid in enumerate(ids):
            for d in np.nonzero(mask[a])[0]:
                rows["_id"].append(uid)
                rows["date"].append(dates[d])
                rows["total_earnings"].append(repr(float(amt[a, d])))
                rows["online_seconds"].append(str(int(secs[a, d])))
                rows["file"].append(f"s3://lake/silver/{plat}/{uid}_{dates[d]}.json")
        _write(f"{out}/{plat}_perf.parquet", {c: pa.array(v, pa.string()) for c, v in rows.items()})
    emails = [e for u in users for e in (u["streamateuser"], u["jasminuser"]) if e]
    emails += [f"ghost{g}@models1a.com" for g in range(3)]
    rows = {c: [] for c in ["performerId", "nickname", "emailaddress", "date",
                            "onlineseconds", "payableamount", "_id"]}
    mask = rng.random((len(emails), days)) < 0.7
    amt = _money(rng, 1, 200, mask.size).reshape(mask.shape)
    secs = rng.integers(0, 36000, mask.shape)
    for p, email in enumerate(emails):
        for d in np.nonzero(mask[p])[0]:
            rows["performerId"].append(str(p))
            rows["nickname"].append(f"nick{p}")
            rows["emailaddress"].append(email)
            rows["date"].append(dates[d])
            rows["onlineseconds"].append(str(int(secs[p, d])))
            rows["payableamount"].append(repr(float(amt[p, d])))
            rows["_id"].append(f"u{p // 2 + 1}")
    _write(f"{out}/earnings_by_performer.parquet", {c: pa.array(v, pa.string()) for c, v in rows.items()})
    return users, dates


METHODS = [
    "earningsByDay", "earningsSeries", "detailedRanking", "detailedRankingPaged",
    "earningsByDayOfWeek", "modelsEarningDistribution", "needle", "profitAvg",
    "totalProfitReport", "averageProfitability", "weeklyEarnings",
    "earningsByDayOfWeekSql", "sql.earningsByDay", "sql.earningsByDayOfWeek",
    "sql.weeklyEarnings"]


SPANS = [6, 13, 29, 89, 180, 364]
PLATFORMS = [None, "Jasmin", "Streamate"]


def requests(seed, users, dates, per_method):
    """A seeded mix of every request method, `per_method` requests of each,
    interleaved. Each request's shape is fixed by its place in the mix (a
    date range of a week to a year, the platform None/Jasmin/Streamate,
    zero to two location filters), so that every seed asks for the same
    amount of work; the seed picks the dates, the offices, cities and users
    filtered on, the sort order and the page."""
    rng = np.random.default_rng(seed + 1)
    out = []
    accounted = [u for u in users if u["streamateuser"] or u["jasminuser"]]
    k = 0
    for _ in range(per_method):
        for m in METHODS:
            span = min(SPANS[k % len(SPANS)], len(dates) - 32)
            s = len(dates) - 1 - span - int(rng.integers(0, 30))
            req = {"method": m, "start": dates[s], "end": dates[s + span],
                   "locations": [], "user": None, "platform": PLATFORMS[k % 3],
                   "desc": bool(rng.random() < 0.7), "page": 1, "limit": 10}
            for _ in range([0, 1, 2, 0, 1][k % 5]):
                if rng.random() < 0.5:
                    req["locations"].append(["office", OFFICES[int(rng.integers(0, 3))]])
                else:
                    req["locations"].append(["city", CITIES[int(rng.integers(0, 3))]])
            if k % 4 == 3:
                req["user"] = accounted[int(rng.integers(0, len(accounted)))]["_id"]
            req["page"] = int(rng.integers(1, 5)) if k % 7 else 20
            if m in ("earningsByDay", "sql.earningsByDay"):
                u = accounted[int(rng.integers(0, len(accounted)))]
                req.update(city=u["city"], office=u["office"], name=u["artisticname"])
            out.append(req)
            k += 1
    return out


def write_requests(path, reqs):
    """One request per line, tab-separated, for the JVM harness."""
    with open(path, "w") as f:
        for i, r in enumerate(reqs):
            loc = "|".join(f"{k}:{v}" for k, v in r["locations"])
            f.write("\t".join([str(i), r["method"], r["start"], r["end"], loc,
                               r["user"] or "", r["platform"] or "",
                               "1" if r["desc"] else "0", str(r["page"]), str(r["limit"]),
                               r.get("city", ""), r.get("office", ""), r.get("name", "")]) + "\n")


# ------------------------------------------------------------------- ingest

def _salt(text, tag):
    return " ".join(f"{w}#{tag}" for w in text.split(" "))


def _gates_clear(text):
    """True when `text` passes the pipeline's default quality and
    repetition gates (CorpusPipeline.Thresholds: at least 10 tokens,
    punctuation at most 0.30 of the characters, duplicate-token fraction
    at most 0.68, top 2-gram fraction at most 0.09) with a margin, so
    that a doc this calls clear must be accepted unless it has a copy."""
    norm = " ".join(text.split()).lower()
    toks = norm.split(" ")
    grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    punct = sum(1 for ch in norm if not (ch.isascii() and (ch.isalnum() or ch == " ")))
    top2 = max((grams.count(g) for g in set(grams)), default=0) / max(len(grams), 1)
    return (len(toks) >= 11 and punct / len(norm) <= 0.27
            and (len(toks) - len(set(toks))) / len(toks) <= 0.64 and top2 <= 0.086)


def _shingles(text, n=3):
    toks = " ".join(text.split()).lower().split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def ingest_batches(out, seed, cold_n, warm_batches, warm_fresh):
    """The cold batch and the warm batches of the ingest workload, each a
    parquet file with the documents columns plus `doc_date` and a 64-dim
    `embedding`. A warm batch mixes fresh docs (pool docs salted per batch,
    as the engine's scale-curve replicas are), exact copies of cold docs,
    near-duplicates of cold docs and docs that must fail the gates (too
    few tokens, or one token repeated). Returns the planted ids by kind
    and, per batch, `must_accept`: the fresh docs that clear the gates and
    have no exact or near copy (3-shingle Jaccard of 0.2 or more, against
    the pipeline's 0.5) among the other docs of their batch. Salting keeps
    them apart from the corpus, so the pipeline must accept each of them."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed + 2)
    pool = _doc_texts(rng, cold_n + warm_batches * warm_fresh)
    plan = {"batches": []}

    def frame(ids, texts):
        n = len(ids)
        emb = rng.normal(0, 1, (n, 64))
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        return {
            "doc_id": pa.array(np.array(ids, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            "doc_date": pa.array([dt.date(2024, 1, 15)] * n, pa.date32()),
            "embedding": pa.array(list(emb.astype(np.float32)), type=pa.list_(pa.float32())),
        }

    cold_texts = pool[:cold_n]
    _write(f"{out}/cold.parquet", frame(list(range(cold_n)), cold_texts))
    next_id = 1_000_000
    for b in range(warm_batches):
        kinds = {"fresh": [], "copy": [], "near": [], "fail": []}
        ids, texts = [], []

        def add(kind, text):
            nonlocal next_id
            kinds[kind].append(next_id)
            ids.append(next_id)
            texts.append(text)
            next_id += 1

        for t in pool[cold_n + b * warm_fresh: cold_n + (b + 1) * warm_fresh]:
            add("fresh", _salt(t, f"b{b}"))
        for _ in range(4):
            add("copy", cold_texts[int(rng.integers(0, cold_n))])
        for _ in range(4):
            add("near", cold_texts[int(rng.integers(0, cold_n))] + " line")
        for _ in range(2):
            add("fail", " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), 4)))
        for _ in range(2):
            add("fail", " ".join([VOCAB[int(rng.integers(0, len(VOCAB)))]] * 40))
        order = rng.permutation(len(ids))
        _write(f"{out}/warm{b:03d}.parquet",
               frame([ids[i] for i in order], [texts[i] for i in order]))
        sh = [_shingles(t) for t in texts]
        must = [i for j, i in enumerate(ids) if i in kinds["fresh"]
                and _gates_clear(texts[j])
                and all(_jaccard(sh[j], sh[k]) < 0.2 for k in range(len(ids)) if k != j)]
        plan["batches"].append({**kinds, "must_accept": must})
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan
