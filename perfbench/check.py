"""Output checks for the three workloads, each made apart from the engine.

dashboard: every response against DuckDB over the same parquet lake.
suite:     every query's output against DuckDB running its oracle SQL over
           the same tables, canonicalised as tools/selfcheck.py does.
ingest:    corpus ids unique and all arrived, no planted copy or gate
           failure accepted, every index family covering exactly the corpus.

Each check returns a list of problems; an empty list means correct.
"""
import datetime as dt
import glob
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

# ---------------------------------------------------------------- compare

def _num(v):
    if isinstance(v, str):
        if v == "NaN":
            return float("nan")
        try:
            return float(v)
        except ValueError:
            return None
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    return None


def same_value(a, b):
    """Equal up to summation order: doubles within 1e-6 relative, and the
    values a query rounds to 2 places within one rounding step."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(b, (dt.date, dt.datetime)):
        b = b.isoformat()
    na, nb = _num(a), _num(b)
    if na is not None and nb is not None:
        if math.isnan(na) or math.isnan(nb):
            return math.isnan(na) and math.isnan(nb)
        return abs(na - nb) <= max(1e-6 * abs(nb), 0.0101)
    return str(a) == str(b)


def same_rows(got, want, ordered):
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        key = lambda r: repr(tuple("" if v is None else str(v) for v in r))
        got, want = sorted(got, key=key), sorted(want, key=key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(same_value(x, y) for x, y in zip(g, w)):
            return f"row {i}: got {g}, expected {w}"
    return None

# -------------------------------------------------------------- dashboard

DOW = "CASE {d} WHEN 1 THEN 'Lun' WHEN 2 THEN 'Mar' WHEN 3 THEN 'Mié' WHEN 4 THEN 'Jue' " \
      "WHEN 5 THEN 'Vie' WHEN 6 THEN 'Sáb' WHEN 7 THEN 'Dom' END"
EMAIL_JOIN = "(e.emailaddress = u.streamateuser OR e.emailaddress = u.jasminuser)"


def _q(s):
    return "'" + str(s).replace("'", "''") + "'"


def _between(col, r):
    return f"CAST({col} AS DATE) BETWEEN DATE {_q(r['start'])} AND DATE {_q(r['end'])}"


def _loc(r, with_user):
    parts = [f"u.{k} = {_q(v)}" for k, v in r["locations"]]
    if with_user and r["user"]:
        parts.append(f"u._id = {_q(r['user'])}")
    return "(" + " OR ".join(parts) + ")" if parts else "TRUE"


def _perf(r):
    return {"Jasmin": "jperf", "Streamate": "sperf"}.get(r["platform"] or "", "perf_all")


def _shift(unit, d):
    d = dt.date.fromisoformat(d)
    if unit in ("day", "week", "biweek"):
        return (d - dt.timedelta(days={"day": 1, "week": 7, "biweek": 14}[unit])).isoformat()
    months = {"month": 1, "quarter": 3}.get(unit, 12)
    y, m = divmod(d.year * 12 + d.month - 1 - months, 12)
    last = [31, 29 if (y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)) else 28, 31, 30, 31,
            30, 31, 31, 30, 31, 30, 31][m]
    return dt.date(y, m + 1, min(d.day, last)).isoformat()


def _unit(s, e):
    delta = (dt.date.fromisoformat(e) - dt.date.fromisoformat(s)).days
    return ("day" if delta == 0 else "week" if delta <= 7 else "biweek" if delta <= 15
            else "month" if delta <= 30 else "quarter" if delta <= 90 else "year")


def dashboard_expected(con, r):
    """(columns, rows, ordered, total, hasMore) a request must return."""
    m = r["method"]
    rows = lambda sql: con.execute(sql).fetchall()
    if m in ("earningsByDay", "sql.earningsByDay"):
        sql = f"""SELECT e.date, SUM(CAST(e.payableamount AS DOUBLE)) FROM eap e
          JOIN users u ON {EMAIL_JOIN}
          WHERE {_between('e.date', r)} AND u.city = {_q(r['city'])}
            AND u.office = {_q(r['office'])} AND u.artisticname = {_q(r['name'])}
          GROUP BY e.date ORDER BY e.date"""
        return ["date", "totalAmount"], rows(sql), True, None, None
    if m == "earningsSeries":
        def side(t):
            return f"""SELECT p.date d, SUM(CAST(p.total_earnings AS DOUBLE)) a FROM {t} p
              JOIN users u ON p._id = u._id
              WHERE CAST(p.date AS DATE) >= DATE {_q(r['start'])} AND {_loc(r, True)}
              GROUP BY p.date"""
        j = side("jperf") if r["platform"] in (None, "Jasmin") else "SELECT NULL d, NULL a WHERE FALSE"
        s = side("sperf") if r["platform"] in (None, "Streamate") else "SELECT NULL d, NULL a WHERE FALSE"
        sql = f"""WITH j AS ({j}), s AS ({s}),
          k AS (SELECT d FROM j UNION SELECT d FROM s)
          SELECT k.d, j.a, s.a FROM k LEFT JOIN j ON j.d = k.d LEFT JOIN s ON s.d = k.d
          ORDER BY k.d"""
        return ["report_date", "jasmin", "streamate"], rows(sql), True, None, None
    if m in ("detailedRanking", "detailedRankingPaged"):
        def side(t):
            return f"""SELECT u._id id, u.artisticname n, u.city c, u.office o, u.room rm,
                u.picture pic, SUM(CAST(p.total_earnings AS DOUBLE)) sales,
                SUM(CAST(CAST(p.online_seconds AS INTEGER) AS BIGINT)) tm
              FROM {t} p JOIN users u ON p._id = u._id
              WHERE {_between('p.date', r)} AND {_loc(r, False)}
              GROUP BY ALL"""
        base = f"""WITH j AS ({side('jperf')}), s AS ({side('sperf')}),
          f AS (SELECT coalesce(j.id, s.id) _id, coalesce(j.n, s.n) artisticname,
              coalesce(j.c, s.c) city, coalesce(j.o, s.o) office, coalesce(j.rm, s.rm) room,
              j.pic picture, coalesce(j.sales, 0.0) js, coalesce(j.tm, 0) jt,
              coalesce(s.sales, 0.0) ss, coalesce(s.tm, 0) st
            FROM j FULL OUTER JOIN s ON j.id = s.id),
          g AS (SELECT * FROM f WHERE js > 0 OR ss > 0)"""
        total = con.execute(base + " SELECT count(*) FROM g").fetchone()[0]
        off = (r["page"] - 1) * r["limit"]
        sql = base + f""" SELECT _id, artisticname, city, office, room, picture, js, jt, ss, st,
            round(CASE WHEN js + ss = 0 THEN 0.0 ELSE js / (js + ss) END * 100, 2),
            round(CASE WHEN js + ss = 0 THEN 0.0 ELSE ss / (js + ss) END * 100, 2),
            js + ss FROM g ORDER BY js + ss DESC, artisticname ASC
            LIMIT {r['limit']} OFFSET {off}"""
        cols = ["_id", "artisticname", "city", "office", "room", "picture", "jasmin_sales",
                "jasmin_time", "streamate_sales", "streamate_time", "jasmin_percentage",
                "streamate_percentage", "total_sales"]
        if m == "detailedRanking":
            return cols, rows(sql), True, None, None
        return cols, rows(sql), True, total, r["page"] * r["limit"] < total
    if m == "earningsByDayOfWeek":
        user = f"AND u._id = {_q(r['user'])}" if r["user"] else ""
        sql = f"""WITH c AS (SELECT CAST(p.date AS DATE) AS dy, CAST(p.total_earnings AS DOUBLE) x
            FROM {_perf(r)} p JOIN users u ON p._id = u._id
            WHERE {_between('p.date', r)} AND {_loc(r, False)} {user}),
          d AS (SELECT isodow(dy) dn, round(sum(x), 2) tot,
              round(sum(x) / count(DISTINCT dy), 2) apd FROM c GROUP BY 1),
          t AS (SELECT sum(apd) ta FROM d)
          SELECT {DOW.format(d='dn')}, tot, apd, round(apd / ta * 100, 2) FROM d, t
          ORDER BY CASE WHEN dn = 7 THEN 1 ELSE dn + 1 END"""
        return ["DOW", "TOTAL", "average_per_day", "percentage"], rows(sql), True, None, None
    if m == "modelsEarningDistribution":
        order = "DESC" if r["desc"] else "ASC"
        sql = f"""WITH b AS (SELECT u.artisticname n, u.picture pic, u.city c, u.office o,
              CAST(p.total_earnings AS DOUBLE) x
            FROM {_perf(r)} p JOIN users u ON p._id = u._id
            WHERE {_between('p.date', r)} AND {_loc(r, True)}),
          rk AS (SELECT n, max(pic) pic, max(c) c, max(o) o, round(sum(x), 2) te FROM b GROUP BY n),
          r2 AS (SELECT *, row_number() OVER (ORDER BY te {order}, n ASC) k FROM rk),
          tot AS (SELECT round(sum(te), 2) tg FROM rk),
          bk AS (SELECT CASE WHEN k <= 5 THEN n ELSE 'General' END n,
              CASE WHEN k <= 5 THEN pic ELSE '' END pic, CASE WHEN k <= 5 THEN c ELSE '' END c,
              CASE WHEN k <= 5 THEN o ELSE '' END o, te FROM r2),
          o AS (SELECT n, max(pic) pic, max(c) c, max(o) o, round(sum(te), 2) te FROM bk GROUP BY n)
          SELECT n, pic, c, o.o, te, round(te / tg * 100, 2) FROM o, tot ORDER BY te {order}"""
        return (["artisticname", "picture", "city", "office", "total_earnings", "percentage"],
                rows(sql), True, None, None)
    if m == "needle":
        unit = _unit(r["start"], r["end"])
        user = f"AND u._id = {_q(r['user'])}" if r["user"] else ""
        bucket = {"day": "dayofmonth", "week": "weekofyear", "biweek": "weekofyear",
                  "month": "month", "quarter": "quarter"}.get(unit, "year")
        j = f"""SELECT CAST(p.date AS DATE) d, CAST(p.total_earnings AS DECIMAL(10,2)) x
            FROM {_perf(r)} p JOIN users u ON p._id = u._id WHERE {_loc(r, False)} {user}"""
        ps, pe = _shift(unit, r["start"]), _shift(unit, r["end"])
        sql = f"""WITH j AS ({j}),
          cur AS (SELECT sum(x) v FROM j WHERE d BETWEEN DATE {_q(r['start'])} AND DATE {_q(r['end'])}),
          h AS (SELECT {bucket}(d) b, sum(x) s FROM j
                WHERE d BETWEEN DATE {_q(ps)} AND DATE {_q(pe)} GROUP BY 1)
          SELECT cur.v, (SELECT avg(s) FROM h) FROM cur"""
        return ["current_value", "target_value"], rows(sql), True, None, None
    if m == "profitAvg":
        sql = f"""SELECT u.office, sum(coalesce(CAST(e.payableamount AS DOUBLE), 0.0)) s
          FROM eap e JOIN users u ON {EMAIL_JOIN}
          WHERE {_between('e.date', r)} AND {_loc(r, False)} GROUP BY u.office"""
        per = [x[1] for x in rows(sql)]
        otros = sum(per) / len(per) if per else 0.0
        return (["id", "label", "value", "color"],
                [("Toy", "Toy", 0.0, "#BD0909"), ("Privada", "Privada", 0.0, "#EB8326"),
                 ("Otros", "Otros", otros, "#C9370F")], True, None, None)
    if m == "totalProfitReport":
        def side(t):
            return con.execute(f"""SELECT coalesce(sum(CAST(round(CAST(p.total_earnings AS
                DECIMAL(18,2)), 0) AS DECIMAL(38,0))), 0)
              FROM {t} p JOIN users u ON p._id = u._id
              WHERE {_between('p.date', r)} AND {_loc(r, True)}""").fetchone()[0]
        plat = r["platform"]
        total = side("jperf") if plat in (None, "Jasmin") else side("sperf")
        privada = side("sperf") if plat is None else 0
        return (["id", "label", "value", "color"],
                [("Total", "Total", total, "#219E0D"), ("Privada", "Privada", privada, "#EB933D"),
                 ("Toy", "Toy", 0, "#21619A")], True, None, None)
    if m == "averageProfitability":
        tv, ts = con.execute(f"""SELECT sum(coalesce(CAST(p.total_earnings AS DOUBLE), 0.0)),
              sum(coalesce(CAST(p.online_seconds AS DOUBLE), 0.0))
            FROM {_perf(r)} p JOIN users u ON p._id = u._id
            WHERE {_between('p.date', r)} AND {_loc(r, True)}""").fetchone()
        aph = None if tv is None or not ts else tv / (ts / 3600)
        return (["id", "label", "total_value", "total_seconds", "average_per_hour", "color"],
                [("Total", "Total", tv, ts, aph, "#219E0D")], True, None, None)
    if m in ("weeklyEarnings", "sql.weeklyEarnings"):
        sql = """SELECT year(CAST(date AS DATE)), weekofyear(CAST(date AS DATE)),
            sum(CAST(payableamount AS DOUBLE)), sum(CAST(onlineseconds AS DOUBLE))
          FROM eap GROUP BY 1, 2"""
        return ["year", "week", "totalAmount", "totalSeconds"], rows(sql), False, None, None
    if m in ("earningsByDayOfWeekSql", "sql.earningsByDayOfWeek"):
        sql = f"""WITH j AS (SELECT CAST(e.date AS DATE) AS dy, CAST(e.payableamount AS DOUBLE) x
            FROM eap e JOIN users u ON {EMAIL_JOIN} WHERE {_between('e.date', r)}),
          t AS (SELECT sum(x) g FROM j)
          SELECT {DOW.format(d='isodow(dy)')}, round(sum(x), 2), round(sum(x) / any_value(g) * 100, 2)
          FROM j, t GROUP BY isodow(dy) ORDER BY isodow(dy)"""
        return ["DOW", "TOTAL", "percentage"], rows(sql), True, None, None
    raise ValueError(f"unknown method {m}")


def check_dashboard(work, reqs, plant=False):
    con = duckdb.connect()
    lake = f"{work}/lake"
    con.execute(f"CREATE VIEW users AS SELECT * FROM '{lake}/users.parquet'")
    con.execute(f"CREATE VIEW jperf AS SELECT * FROM '{lake}/jasmin_perf.parquet'")
    con.execute(f"CREATE VIEW sperf AS SELECT * FROM '{lake}/streamate_perf.parquet'")
    con.execute("CREATE VIEW perf_all AS SELECT * FROM jperf UNION ALL SELECT * FROM sperf")
    con.execute(f"CREATE VIEW eap AS SELECT * FROM '{lake}/earnings_by_performer.parquet'")
    got = {}
    with open(f"{work}/responses.jsonl") as f:
        for line in f:
            if line.strip():
                d = json.loads(line)
                got[d["i"]] = d["response"]
    problems = []
    planted = False
    for i, r in enumerate(reqs):
        cols, rows, ordered, total, more = dashboard_expected(con, r)
        rows = [list(x) for x in rows]
        if plant and not planted and rows:
            j = next((k for k, v in enumerate(rows[0]) if isinstance(v, float)), None)
            if j is not None:
                rows[0][j] += 1.0
                planted = True
        g = got.get(i)
        if g is None:
            problems.append(f"request {i} ({r['method']}): no answer")
            continue
        if g["cols"] != cols:
            problems.append(f"request {i} ({r['method']}): columns {g['cols']}, expected {cols}")
            continue
        bad = same_rows(g["rows"], rows, ordered)
        if bad:
            problems.append(f"request {i} ({r['method']}): {bad}")
        if r["method"] == "detailedRankingPaged" and (g["total"] != total or g["hasMore"] != more):
            problems.append(f"request {i}: totalResults/hasMore {g['total']}/{g['hasMore']}, "
                            f"expected {total}/{more}")
    return problems

# ------------------------------------------------------------------ suite

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))


def check_suite(work, names, plant=False):
    from selfcheck import TABLES, canon  # the engine's own oracle canonicalisation
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/sf/{t}.parquet'")
    oracle = json.load(open(f"{work}/oracle_sql.json"))
    problems = []
    planted = False
    for name in names:
        parts = sorted(glob.glob(f"{work}/out/{name}/part-*.parquet"))
        if not parts:
            problems.append(f"{name}: no output")
            continue
        sp = pq.ParquetDataset(parts).read()
        sp_names = sp.column_names
        sp_rows = [tuple(r.values()) for r in sp.to_pylist()]
        if name == "a15_approx_count_distinct":
            exact = dict(con.execute("""SELECT l_returnflag, count(DISTINCT l_orderkey)
                FROM lineitem GROUP BY 1""").fetchall())
            for row in sp.to_pylist():
                want = exact.get(row["l_returnflag"])
                # stated relative standard deviation 0.02: accept 3 of them
                if want is None or abs(row["approx_orders"] - want) > 0.06 * want \
                        or row["exact_orders"] != want:
                    problems.append(f"{name}: {row} against exact {want}")
            continue
        sql = oracle.get(name)
        if sql is None:
            problems.append(f"{name}: no oracle SQL")
            continue
        dd = con.execute(sql)
        dd_names = [d[0] for d in dd.description]
        dd_rows = dd.fetchall()
        if sorted(dd_names) != sorted(sp_names):
            problems.append(f"{name}: columns {sorted(sp_names)}, oracle {sorted(dd_names)}")
            continue
        a, b = canon(sp_rows, sp_names), canon(dd_rows, dd_names)
        if plant and not planted and any(isinstance(v, (int, float)) for r in b for v in r):
            b = [tuple((v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool) else v)
                       for v in b[0])] + b[1:]
            planted = True
        bad = same_rows(a, b, ordered=True)
        if bad:
            problems.append(f"{name}: {bad}")
    return problems

# ----------------------------------------------------------------- ingest

def check_ingest(work, plant=None):
    """`plant` is for the self-test: "duplicate" plants a duplicate doc in
    the corpus, "rejected" drops a doc the pipeline must accept."""
    plan = json.load(open(f"{work}/batches/plan.json"))
    got = json.load(open(f"{work}/ingest_check.json"))
    corpus = [int(x) for x in got["corpus"]]
    if plant == "duplicate":
        corpus.append(corpus[0])
    elif plant == "rejected":
        corpus.remove(plan["batches"][-1]["must_accept"][0])
    problems = []
    if len(set(corpus)) != len(corpus):
        problems.append(f"corpus doc_ids not unique: {len(corpus)} rows, {len(set(corpus))} ids")
    # what arrived is what the source directory holds after the run
    arrived = set()
    for f in glob.glob(f"{work}/ingest/src/*.parquet"):
        arrived.update(pq.read_table(f, columns=["doc_id"]).column(0).to_pylist())
    planted = {i for b in plan["batches"] for kind, ids in b.items()
               if kind in ("copy", "fail") for i in ids}
    ids = set(corpus)
    if ids - arrived:
        problems.append(f"{len(ids - arrived)} corpus ids never arrived")
    if ids & planted:
        problems.append(f"planted copies or gate failures accepted: {sorted(ids & planted)[:5]}")
    # over-rejection: fresh docs that clear the gates and have no copy must
    # be in the corpus (and so, by the family checks below, in every index)
    for n, b in enumerate(plan["batches"]):
        missing = set(b["must_accept"]) - ids
        if missing:
            problems.append(f"warm batch {n}: {len(missing)} of {len(b['must_accept'])} clean "
                            f"fresh docs rejected: {sorted(missing)[:5]}")
    # the batch gate ran on the cold and every warm batch, and passed each
    gate = [g.rsplit(":", 1) for g in got["gate"]]
    failed = sorted(g[0] for g in gate if g[1] != "1")
    if failed:
        problems.append(f"batches rejected by the quality gate: {failed[:5]}")
    gated = {g[0].split(":", 1)[0] for g in gate}
    if len(gated) != 1 + len(plan["batches"]):
        problems.append(f"gate reports for {sorted(gated)}, drained {1 + len(plan['batches'])}")
    for fam in ("minhash", "bm25", "ann", "ivf", "chunk"):
        fam_ids = set(int(x) for x in got[fam])
        if fam_ids != ids:
            problems.append(f"{fam} index covers {len(fam_ids)} docs, corpus {len(ids)} "
                            f"(missing {len(ids - fam_ids)}, extra {len(fam_ids - ids)})")
    masses = set(int(x) for x in got["sketch_row_mass"])
    if masses != {int(got["corpus_tokens"])}:
        problems.append(f"sketch row masses {sorted(masses)} != corpus tokens {got['corpus_tokens']}")
    return problems
