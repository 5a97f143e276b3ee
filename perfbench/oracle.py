"""DuckDB oracles for the benchmark workloads, and the user-facing figures
that are derived from a run's op records.

`check` returns a list of (op name or None, problem), empty when every
answer is right. A named problem marks every op of that name wrong:
- analytics, the pipeline: silver row counts, the gold outputs and the
  reports against DuckDB over the flat truth copy.
- analytics, the queries: each warm-pass answer against
  SparkEntry.oracleSql run in DuckDB over the unpermuted truth tables;
  answers are cached by query text and table contents, outside every
  timed region.
- tx_churn: a DuckDB replay of the same verb sequence; every pruned read
  and bloom lookup, the final table and the consumer's silver table.
"""
import glob
import hashlib
import json
import math
import os
import statistics

import duckdb
import numpy as np
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, exp):
    """None when equal as multisets of rows (exact values, like the
    engine's gate); else the first difference."""
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        gk, ek = gv.dtype.kind, ev.dtype.kind
        if {gk, ek} == {"M", "O"}:  # Spark dates read back as objects
            gv, ev = pd.to_datetime(gv), pd.to_datetime(ev)
            gk = ek = "M"
        if gk != ek and not ({gk, ek} <= set("iu")):
            return f"{c}: dtype {gv.dtype} vs {ev.dtype}"
        if gk == "f" or ek == "f":
            ok = ((gv.isna() & ev.isna()) | (gv == ev)).all()
        else:
            ok = (gv.astype(str) == ev.astype(str)).all()
        if not ok:
            i = (gv.astype(str) != ev.astype(str)).idxmax()
            return f"{c}: {gv.iloc[i]!r} vs {ev.iloc[i]!r}"
    return None


def _read_dir(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def fingerprint(rows):
    """The JVM's Main.fingerprint: row count and the sum (mod 2^64) of the
    first eight MD5 bytes of each canonical row string."""
    total = 0
    n = 0
    for r in rows:
        total = (total + int.from_bytes(hashlib.md5(r.encode()).digest()[:8], "big")) % 2**64
        n += 1
    return f"{n}:{total:x}"


# ------------------------------------------------------- analytics: queries

def check_queries(data, work, build):
    """`data` holds the generated tables, `work` the JVM's answers."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(f"{data}/truth/*.parquet")):
        with open(p, "rb") as f:
            h.update(f.read())
    tables_hash = h.hexdigest()
    with open(f"{work}/oracle_sql.json") as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{data}/truth/*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    cache = os.path.join(build, "oracle")
    os.makedirs(cache, exist_ok=True)
    problems = []
    for name, sql in sorted(sqls.items()):
        got = _read_dir(f"{work}/answers/{name}")
        if got is None:
            problems.append((name, "no warm-pass answer"))
            continue
        key = hashlib.sha256((tables_hash + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache, f"{name}-{key}.parquet")
        if os.path.exists(cached):
            exp = pd.read_parquet(cached)
        else:
            exp = con.execute(sql).fetchdf()
            exp.to_parquet(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        why = compare(got, exp)
        if why:
            problems.append((name, why))
    return problems


def check(workload, work, res, build):
    if workload == "analytics":
        return (check_f1(os.path.join(work, "f1"), work)
                + check_queries(os.path.join(work, "queries"), work, build))
    return check_tx(work, res)


# ------------------------------------------------------ analytics: pipeline

GOLD_SQL = {
    # TransformSilver.raceResults with the reference's inner pitstop join
    "raceResults": """
        WITH ps AS (SELECT circuitRef, date, driverRef, MAX(stopNo) AS numberOfPitstops
                    FROM pitstops GROUP BY ALL)
        SELECT r.raceName, c.location, c.circuitName, r.date, r.position, d.nationality,
               d.firstName, d.surname, d.permanentNumber, k.constructorName, r.startGrid,
               ps.numberOfPitstops, r.fastestLapTime, r.raceTime, r.status, r.points
        FROM results r
        JOIN drivers d ON d.driverRef = r.driverRef
        JOIN constructors k ON k.constructorRef = r.constructorRef
        JOIN circuits c ON c.circuitRef = r.circuitRef
        JOIN ps ON ps.circuitRef = r.circuitRef AND ps.date = r.date
               AND ps.driverRef = r.driverRef""",
    "driverStandings": """
        SELECT year, firstName, surname, nationality, constructorName, totalPoints, wins,
               CAST(RANK() OVER (PARTITION BY year ORDER BY totalPoints DESC, wins DESC)
                    AS INTEGER) AS position
        FROM (SELECT CAST(YEAR(date) AS INTEGER) AS year, firstName, surname, nationality,
                     constructorName, SUM(points) AS totalPoints,
                     COUNT(CASE WHEN position = 1 THEN 1 END) AS wins
              FROM gold_raceResults GROUP BY ALL)""",
    "constructorStandings": """
        SELECT year, constructorName, totalPoints, wins,
               CAST(RANK() OVER (PARTITION BY year ORDER BY totalPoints DESC, wins DESC)
                    AS INTEGER) AS position
        FROM (SELECT CAST(YEAR(date) AS INTEGER) AS year, constructorName,
                     SUM(points) AS totalPoints,
                     COUNT(CASE WHEN position = 1 THEN 1 END) AS wins
              FROM gold_raceResults GROUP BY ALL)""",
}

RACE_RESULTS_SQL = """
    SELECT CAST(YEAR(results.date) AS INTEGER) AS year, constructors.constructorName,
           drivers.firstName || ' ' || drivers.surname AS driverName,
           results.position, results.points, 11 - results.position AS adjustedPoints
    FROM results
    JOIN drivers ON drivers.driverRef = results.driverRef
    JOIN constructors ON constructors.constructorRef = results.constructorRef
    JOIN circuits ON circuits.circuitRef = results.circuitRef
    WHERE results.position <= 10"""


def _report_sql(key, limit, min_races):
    return f"""
    WITH r AS (
      SELECT {key}, COUNT(1) AS totalRaces, SUM(adjustedPoints) AS totalAdjustedPoints,
             AVG(adjustedPoints) AS avgAdjustedPoints,
             RANK() OVER (ORDER BY AVG(adjustedPoints) DESC) AS rank
      FROM raceResults GROUP BY {key} HAVING COUNT(1) >= {min_races})
    SELECT raceResults.year, raceResults.{key}, COUNT(1) AS totalRaces,
           SUM(raceResults.adjustedPoints) AS totalAdjustedPoints,
           AVG(raceResults.adjustedPoints) AS avgAdjustedPoints
    FROM raceResults JOIN r ON raceResults.{key} = r.{key}
    WHERE r.rank <= {limit}
    GROUP BY raceResults.{key}, raceResults.year"""


REPORT_SQL = {
    "dominantDriversPerYear": """
        SELECT year, driverName, COUNT(1) AS totalRaces,
               SUM(adjustedPoints) AS totalAdjustedPoints,
               AVG(adjustedPoints) AS avgAdjustedPoints
        FROM raceResults GROUP BY driverName, year""",
    "dominantConstructorsPerYear": """
        SELECT year, constructorName, COUNT(1) AS totalRaces,
               SUM(adjustedPoints) AS totalAdjustedPoints,
               AVG(adjustedPoints) AS avgAdjustedPoints
        FROM raceResults GROUP BY constructorName, year""",
    "allTimeDriverRank": """
        SELECT driverName, COUNT(1) AS totalRaces,
               SUM(adjustedPoints) AS totalAdjustedPoints,
               AVG(adjustedPoints) AS avgAdjustedPoints,
               CAST(RANK() OVER (ORDER BY AVG(adjustedPoints) DESC) AS INTEGER) AS rank
        FROM raceResults GROUP BY driverName HAVING COUNT(1) >= 8""",
    "topDriversPerYear": _report_sql("driverName", 15, 50),
    "topConstructorsPerYear": _report_sql("constructorName", 5, 100),
}


def check_f1(data, work):
    """`data` holds the bronze lake and its truth copy, `work` the JVM's answers."""
    problems = []
    with open(f"{data}/truth/counts.json") as f:
        counts = json.load(f)
    lake = f"{data}/lake"
    for ds, n in counts.items():
        got = _read_dir(glob.glob(f"{lake}/silver/*/{ds}")[0]) \
            if glob.glob(f"{lake}/silver/*/{ds}") else None
        if got is None or len(got) != n:
            problems.append((ds, f"silver has {None if got is None else len(got)} rows, want {n}"))
    con = duckdb.connect()
    for t in ("circuits", "constructors", "drivers", "results", "pitstops"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/truth/{t}.parquet'")
    con.execute(f"CREATE TABLE gold_raceResults AS {GOLD_SQL['raceResults']}")
    con.execute(f"CREATE VIEW raceResults AS {RACE_RESULTS_SQL}")
    for name, sql in GOLD_SQL.items():
        dirs = glob.glob(f"{lake}/gold/*/{name}")
        got = _read_dir(dirs[0]) if dirs else None
        if got is None:
            problems.append((name, "gold output missing"))
            continue
        why = compare(got, con.execute(sql).fetchdf())
        if why:
            problems.append((name, why))
    for name, sql in REPORT_SQL.items():
        got = _read_dir(f"{work}/answers/{name}")
        if got is None:
            problems.append((name, "no warm-pass answer"))
            continue
        exp = con.execute(sql).fetchdf()
        for c in exp.columns:  # DuckDB's integer SUM/COUNT are wider than Spark's
            if exp[c].dtype.kind in "iuf" and got[c].dtype.kind in "iu":
                exp[c] = exp[c].astype(got[c].dtype)
        why = compare(got, exp)
        if why:
            problems.append((name, why))
    return problems


# ---------------------------------------------------------------- tx_churn

def _tx_row(r):
    k, grp, qty, price, sku, flag = r
    return f"{k}|{grp}|{qty}|{price:.2f}|{sku}|{flag}"


def check_tx(work, res):
    """Replay the verbs the JVM ran, in order, in DuckDB."""
    ex = res["extra"]
    inp = f"{work}/input"
    with open(f"{inp}/plan.json") as f:
        plan = json.load(f)["rounds"]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM '{inp}/base.parquet'")
    reads = {r["step"]: r for r in ex["reads"]}
    problems = []
    for step, verb in enumerate(ex["verbs"]):
        kind, rnd = verb["kind"], verb["round"]
        p = plan[rnd] if rnd >= 0 else None
        if kind == "commit":
            con.execute(f"INSERT INTO t SELECT * FROM '{inp}/append/{rnd:05d}.parquet'")
        elif kind == "merge":
            src = f"'{inp}/merge/{rnd:05d}.parquet'"
            con.execute(f"DELETE FROM t WHERE k IN (SELECT k FROM {src})")
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
        elif kind == "delete":
            d = p["delete"]
            con.execute(f"DELETE FROM t WHERE k >= {d['lo']} AND k < {d['hi']} "
                        f"AND qty < {d['qty_below']}")
        elif kind == "update":
            u = p["update"]
            con.execute(f"UPDATE t SET qty = qty + {u['add']} WHERE k >= {u['lo']} "
                        f"AND k < {u['hi']} AND flag = '{u['flag']}'")
        if step in reads:
            r = reads[step]
            got = r["range_fp"]
            exp = fingerprint(map(_tx_row, con.execute(
                f"SELECT * FROM t WHERE k >= {r['lo']} AND k < {r['hi']}").fetchall()))
            if got != exp:
                problems.append((None, f"step {step} ({kind}) range read: {got} vs {exp}"))
            skus = ",".join(f"'{s}'" for s in r["skus"]) or "NULL"
            exp = fingerprint(map(_tx_row, con.execute(
                f"SELECT * FROM t WHERE sku IN ({skus})").fetchall()))
            if r["bloom_fp"] != exp:
                problems.append((None, f"step {step} ({kind}) bloom lookup: {r['bloom_fp']} vs {exp}"))
    exp = fingerprint(map(_tx_row, con.execute("SELECT * FROM t").fetchall()))
    if ex["final_fp"] != exp:
        problems.append((None, f"final table: {ex['final_fp']} vs {exp}"))
    exp = fingerprint(f"{g}|{n}|{q}|{p:.2f}" for g, n, q, p in con.execute(
        "SELECT grp, COUNT(*), SUM(qty), SUM(price) FROM t GROUP BY grp").fetchall())
    if ex["silver_fp"] != exp:
        problems.append((None, f"consumer silver: {ex['silver_fp']} vs {exp}"))
    return problems


# ---------------------------------------------------- user-facing figures

def hd_quantile(values, p):
    """The Harrell-Davis estimate of the p-quantile: a mean of all order
    statistics, weighted by the Beta(p(n+1), (1-p)(n+1)) mass of each
    one's rank interval. A run's op latencies come in clusters (reads,
    verbs, polls; datasets, reports, queries), and the plain order
    statistic jumps between two clusters when a seed moves one op across
    the p-th rank; this estimate moves smoothly."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(w @ x)


def op_tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it,
    (n - beyond) / n, and its Harrell-Davis estimate: (value, percentile).
    A run times 25-32 ops, so this is about p60-p70; with `beyond`
    samples or fewer it is the maximum."""
    n = len(values)
    if n <= beyond:
        return (max(values), 100.0) if values else (0.0, 0.0)
    p = (n - beyond) / n
    return hd_quantile(values, p), 100.0 * p


def tail(values):
    """The 90th percentile by nearest rank, for the per-layer tails: a
    run's 10-20 commits or reads leave no percentile above the median with
    ten samples beyond it."""
    s = sorted(values)
    return s[math.ceil(0.9 * len(s)) - 1] if s else 0.0


def user_metrics(workload, res):
    """The tx user's figures (zero on the other workloads)."""
    if workload != "tx_churn":
        return {}
    ops = [o for o in res["ops"] if o["pass"] > 0 and o["ok"]]
    commits = [o["lat_s"] for o in ops if o["kind"] == "verb"]
    reads = [o["lat_s"] for o in ops if o["kind"] in ("read", "lookup")]
    ex = res["extra"]
    lags = [x["lag_s"] for x in ex["cdf_lags"] if x["pass"] > 0]
    return {
        "commit_p50_s": statistics.median(commits) if commits else 0.0,
        "commit_tail_s": tail(commits),
        "read_p50_s": statistics.median(reads) if reads else 0.0,
        "read_tail_s": tail(reads),
        "cdf_lag_p50_s": statistics.median(lags) if lags else 0.0,
        "write_amp": ex["written_b"] / max(1, ex["user_b"]),
        "space_amp": ex["stored_b"] / max(1, ex["live_user_b"]),
    }
