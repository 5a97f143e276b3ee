"""Seeded input generators for the benchmark workloads.

Each generator writes only the files the program reads, plus a private
`truth/` copy that the oracle reads. The same seed always gives the same
files.

- analytics, the pipeline: a synthetic Ergast bronze run, twelve
  datasets as paged `MRData` JSON (page size 1000), and a flat truth
  copy of the rows.
- analytics, the queries: a TPC-H-like star schema plus `events`,
  `documents` and `embeddings`, shaped like the engine's gate data. The
  table contents are fixed (BASE_SEED); the run seed permutes the row
  order, and with it which rows land in which of the two files of a
  table, so oracle answers can be cached across seeds. `events` keeps
  its time order because the stream replays read it in arrival order.
- tx_churn: a keyed table derived from orders/lineitem-like rows, and one
  append batch and one merge source per round, plus the per-round verb
  parameters in `plan.json`.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(days_since_epoch):
    return pa.array(days_since_epoch.astype("int64") * 86_400_000_000,
                    pa.timestamp("us"))


# ------------------------------------------------------- analytics: queries

def base_tables(scale):
    """The fixed query tables at `scale` (1.0 = the 0.01 gate size)."""
    r = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = max(500, int(500 * scale)), max(500, int(500 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "new", "large"])
    noun = np.array(["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    day0 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(day0 + r.integers(0, 2404, n_ord)),
        "o_orderpriority": prios[r.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(day0 + r.integers(0, 2499, n_line))})
    ev_us = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    ev_us += (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:  # a near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS),
                                                            int(r.integers(10, 100)))]))
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = r.normal(0.0, 1.0, (10, 64))
    labels = r.integers(0, 10, n_emb)
    vecs = centers[labels] + r.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def gen_queries(out, seed, scale):
    """Writes `out/truth/<t>.parquet` (fixed content) and
    `out/input/<t>.parquet/part-*.parquet` (seed-permuted copy)."""
    tables = base_tables(scale)
    r = np.random.default_rng(seed)
    for name in TABLES:
        t = tables[name]
        _write(t, f"{out}/truth/{name}.parquet")
        n = t.num_rows
        parts = 2 if n >= 100 else 1
        if name == "events":
            order = np.arange(n)  # arrival order is part of the input
        else:
            order = r.permutation(n)
        bounds = np.linspace(0, n, parts + 1).astype(int)
        for i in range(parts):
            chunk = t.take(pa.array(order[bounds[i]:bounds[i + 1]]))
            _write(chunk, f"{out}/input/{name}.parquet/part-{i:05d}.parquet")
    return {}


# ------------------------------------------------------ analytics: pipeline

PAGE = 1000


def _mrdata(table_name, url, total, offset, body):
    return {"MRData": {"xmlns": "http://ergast.com/mrd/1.5", "series": "f1",
                       "url": url, "limit": str(PAGE), "offset": str(offset),
                       "total": str(total), table_name: body}}


def _pages(out, ds, table_name, records, group):
    """Page `records` (flat dicts) 1000 at a time, like the Ergast API,
    and regroup each page into its nested table body with `group`."""
    total = len(records)
    n_pages = max(1, -(-total // PAGE))
    for p in range(n_pages):
        chunk = records[p * PAGE:(p + 1) * PAGE]
        doc = _mrdata(table_name, f"http://ergast.com/api/f1/{ds}.json", total,
                      p * PAGE, group(chunk))
        path = f"{out}/{ds}/{ds}_{p + 1}.json"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps(doc))  # one document per line


def _race_obj(race, circuits):
    c = circuits[race["circuit"]]
    return {"season": str(race["season"]), "round": str(race["round"]),
            "url": f"http://en.wikipedia.org/wiki/{race['season']}_{race['round']}",
            "raceName": race["raceName"],
            "Circuit": {"circuitId": c["circuitId"], "url": c["url"],
                        "circuitName": c["circuitName"],
                        "Location": {"lat": c["lat"], "long": c["long"],
                                     "locality": c["locality"], "country": c["country"]}},
            "date": race["date"], "time": "14:00:00Z"}


def _group_by_race(chunk, races, circuits, field, inner):
    out, last = [], None
    for rec in chunk:
        key = rec["race"]
        if key != last:
            out.append(dict(_race_obj(races[key], circuits), **{field: []}))
            last = key
        out[-1][field].append(inner(rec))
    return {"Races": out}


def gen_f1(out, seed, seasons=8, rounds=16, n_drivers=20, lap_seasons=1, laps=25):
    """Bronze run under `out/lake/bronze/<run>/` and flat truth tables
    under `out/truth/`."""
    r = np.random.default_rng(seed)
    run = "20240101_000000"
    bronze = f"{out}/lake/bronze/{run}"
    first = 2024 - seasons
    n_circ, n_cons = 24, 10
    circuits = [{"circuitId": f"circ{i}", "url": f"http://c/{i}",
                 "circuitName": f"Circuit {i}", "lat": f"{r.uniform(-60, 60):.4f}",
                 "long": f"{r.uniform(-180, 180):.4f}", "locality": f"Town{i}",
                 "country": f"Land{i % 12}"} for i in range(n_circ)]
    constructors = [{"constructorId": f"team{i}", "url": f"http://t/{i}",
                     "name": f"Team {i}", "nationality": f"Nat{i % 5}"}
                    for i in range(n_cons)]
    pool = n_drivers + 10
    drivers = [{"driverId": f"drv{i}", "url": f"http://d/{i}",
                "givenName": f"Given{i}", "familyName": f"Family{i}",
                "dateOfBirth": f"19{80 + i % 20}-0{1 + i % 9}-1{i % 10}",
                "nationality": f"Nat{i % 7}", "code": f"D{i:02d}",
                "permanentNumber": str(i + 2)} for i in range(pool)]
    statuses = ["Finished", "+1 Lap", "Accident", "Engine", "Gearbox"]
    points = [25, 18, 15, 12, 10, 8, 6, 4, 2, 1]
    races, results, pits, laps_rec, quali, dstand, cstand = [], [], [], [], [], [], []
    for s in range(first, first + seasons):
        grid = r.choice(pool, n_drivers, replace=False)
        team = {int(d): int(i // 2) for i, d in enumerate(grid)}
        cum_d, cum_c, wins_d, wins_c = {}, {}, {}, {}
        for rd in range(1, rounds + 1):
            ri = len(races)
            date = dt.date(s, 3, 1) + dt.timedelta(days=14 * (rd - 1))
            races.append({"season": s, "round": rd, "raceName": f"GP {s}-{rd}",
                          "circuit": int(r.integers(0, n_circ)), "date": date.isoformat()})
            order = r.permutation(grid)
            for pos, d in enumerate(order, start=1):
                d = int(d)
                pts = points[pos - 1] if pos <= len(points) else 0
                results.append({"race": ri, "driver": d, "cons": team[d], "pos": pos,
                                "grid": int(r.integers(1, n_drivers + 1)), "points": pts,
                                "laps": 50, "status": statuses[int(r.integers(0, 5))],
                                "millis": int(5_400_000 + r.integers(0, 600_000)),
                                "fl": f"1:{int(r.integers(30, 40))}.{int(r.integers(0, 1000)):03d}"})
                cum_d[d] = cum_d.get(d, 0) + pts
                cum_c[team[d]] = cum_c.get(team[d], 0) + pts
                if pos == 1:
                    wins_d[d] = wins_d.get(d, 0) + 1
                    wins_c[team[d]] = wins_c.get(team[d], 0) + 1
                quali.append({"race": ri, "driver": d, "cons": team[d],
                              "pos": int(r.integers(1, n_drivers + 1))})
                # every race-driver stops at least once: the gold join is inner
                for stop in range(1, int(r.integers(1, 4)) + 1):
                    pits.append({"race": ri, "driver": d, "stop": stop,
                                 "lap": 10 * stop + int(r.integers(0, 8)),
                                 "dur": f"{r.uniform(19, 30):.3f}"})
            if s >= first + seasons - lap_seasons:
                for lap in range(1, laps + 1):
                    for pos, d in enumerate(r.permutation(grid), start=1):
                        laps_rec.append({"race": ri, "lap": lap, "driver": int(d), "pos": pos,
                                         "time": f"1:{int(r.integers(30, 40))}.{int(r.integers(0, 1000)):03d}"})
            ranked = sorted(cum_d.items(), key=lambda kv: (-kv[1], kv[0]))
            for p, (d, pts) in enumerate(ranked, start=1):
                dstand.append({"season": s, "round": rd, "driver": d, "cons": team[d],
                               "points": pts, "pos": p, "wins": wins_d.get(d, 0)})
            ranked = sorted(cum_c.items(), key=lambda kv: (-kv[1], kv[0]))
            for p, (c, pts) in enumerate(ranked, start=1):
                cstand.append({"season": s, "round": rd, "cons": c, "points": pts,
                               "pos": p, "wins": wins_c.get(c, 0)})

    def drv(d):
        return drivers[d]

    def cons(c):
        return constructors[c]

    _pages(bronze, "circuits", "CircuitTable", circuits, lambda ch: {"Circuits": [
        {"circuitId": c["circuitId"], "url": c["url"], "circuitName": c["circuitName"],
         "Location": {"lat": c["lat"], "long": c["long"], "locality": c["locality"],
                      "country": c["country"]}} for c in ch]})
    _pages(bronze, "constructors", "ConstructorTable", constructors,
           lambda ch: {"Constructors": ch})
    _pages(bronze, "drivers", "DriverTable", drivers, lambda ch: {"Drivers": ch})
    _pages(bronze, "seasons", "SeasonTable",
           [{"season": str(s), "url": f"http://s/{s}"} for s in range(first, first + seasons)],
           lambda ch: {"Seasons": ch})
    _pages(bronze, "status", "StatusTable",
           [{"statusId": str(i + 1), "count": str(100 + i), "status": st}
            for i, st in enumerate(statuses)], lambda ch: {"Status": ch})

    def sched(race):
        o = _race_obj(race, circuits)
        d = dt.date.fromisoformat(race["date"])
        for k, off in (("FirstPractice", 2), ("SecondPractice", 2), ("ThirdPractice", 1),
                       ("Qualifying", 1)):
            o[k] = {"date": (d - dt.timedelta(days=off)).isoformat(), "time": "12:00:00Z"}
        return o
    _pages(bronze, "schedule", "RaceTable", races, lambda ch: {"Races": [sched(x) for x in ch]})
    _pages(bronze, "results", "RaceTable", results, lambda ch: _group_by_race(
        ch, races, circuits, "Results", lambda x: {
            "number": str(x["driver"] + 2), "position": str(x["pos"]),
            "positionText": str(x["pos"]), "points": str(x["points"]),
            "Driver": drv(x["driver"]), "Constructor": cons(x["cons"]),
            "grid": str(x["grid"]), "laps": str(x["laps"]), "status": x["status"],
            "Time": {"millis": str(x["millis"]), "time": f"1:3{x['pos'] % 10}:00.000"},
            "FastestLap": {"rank": str(x["pos"]), "lap": "44",
                           "Time": {"time": x["fl"]},
                           "AverageSpeed": {"units": "kph", "speed": "201.500"}}}))
    _pages(bronze, "pitstops", "RaceTable", pits, lambda ch: _group_by_race(
        ch, races, circuits, "PitStops", lambda x: {
            "driverId": drivers[x["driver"]]["driverId"], "lap": str(x["lap"]),
            "stop": str(x["stop"]), "time": "14:30:00", "duration": x["dur"]}))
    _pages(bronze, "qualifying", "RaceTable", quali, lambda ch: _group_by_race(
        ch, races, circuits, "QualifyingResults", lambda x: {
            "number": str(x["driver"] + 2), "position": str(x["pos"]),
            "Driver": drv(x["driver"]), "Constructor": cons(x["cons"]),
            "Q1": "1:31.000", "Q2": "1:30.500", "Q3": "1:30.000"}))

    def group_laps(ch):  # Races -> Laps -> Timings: two nested arrays
        out, last = [], None
        for rec in ch:
            if rec["race"] != last:
                out.append(dict(_race_obj(races[rec["race"]], circuits), Laps=[]))
                last, lap = rec["race"], None
            if rec["lap"] != lap:
                out[-1]["Laps"].append({"number": str(rec["lap"]), "Timings": []})
                lap = rec["lap"]
            out[-1]["Laps"][-1]["Timings"].append({
                "driverId": drivers[rec["driver"]]["driverId"],
                "position": str(rec["pos"]), "time": rec["time"]})
        return {"Races": out}
    _pages(bronze, "laps", "RaceTable", laps_rec, group_laps)

    def group_standings(ch, field, inner):  # StandingsLists -> <field> -> ...
        out, last = [], None
        for rec in ch:
            key = (rec["season"], rec["round"])
            if key != last:
                out.append({"season": str(key[0]), "round": str(key[1]), field: []})
                last = key
            out[-1][field].append(inner(rec))
        return {"season": str(ch[0]["season"]), "StandingsLists": out}
    _pages(bronze, "driverStandings", "StandingsTable", dstand,
           lambda ch: group_standings(ch, "DriverStandings", lambda x: {
               "position": str(x["pos"]), "positionText": str(x["pos"]),
               "points": str(x["points"]), "wins": str(x["wins"]),
               "Driver": drv(x["driver"]), "Constructors": [cons(x["cons"])]}))
    _pages(bronze, "constructorStandings", "StandingsTable", cstand,
           lambda ch: group_standings(ch, "ConstructorStandings", lambda x: {
               "position": str(x["pos"]), "positionText": str(x["pos"]),
               "points": str(x["points"]), "wins": str(x["wins"]),
               "Constructor": cons(x["cons"])}))

    # the flat truth copy: the silver columns the gold/report oracles read
    truth = f"{out}/truth"
    _write(pa.table({
        "circuitRef": [c["circuitId"] for c in circuits],
        "circuitName": [c["circuitName"] for c in circuits],
        "location": [c["locality"] for c in circuits]}), f"{truth}/circuits.parquet")
    _write(pa.table({
        "constructorRef": [c["constructorId"] for c in constructors],
        "constructorName": [c["name"] for c in constructors]}), f"{truth}/constructors.parquet")
    _write(pa.table({
        "driverRef": [d["driverId"] for d in drivers],
        "firstName": [d["givenName"] for d in drivers],
        "surname": [d["familyName"] for d in drivers],
        "nationality": [d["nationality"] for d in drivers],
        "permanentNumber": [d["permanentNumber"] for d in drivers]}), f"{truth}/drivers.parquet")
    _write(pa.table({
        "raceName": [races[x["race"]]["raceName"] for x in results],
        "date": pa.array([dt.date.fromisoformat(races[x["race"]]["date"]) for x in results],
                         pa.date32()),
        "circuitRef": [circuits[races[x["race"]]["circuit"]]["circuitId"] for x in results],
        "driverRef": [drivers[x["driver"]]["driverId"] for x in results],
        "constructorRef": [constructors[x["cons"]]["constructorId"] for x in results],
        "position": pa.array([x["pos"] for x in results], pa.int32()),
        "startGrid": pa.array([x["grid"] for x in results], pa.int32()),
        "points": pa.array([float(x["points"]) for x in results], pa.float64()),
        "fastestLapTime": [x["fl"] for x in results],
        "raceTime": [f"1:3{x['pos'] % 10}:00.000" for x in results],
        "status": [x["status"] for x in results]}), f"{truth}/results.parquet")
    _write(pa.table({
        "date": pa.array([dt.date.fromisoformat(races[x["race"]]["date"]) for x in pits],
                         pa.date32()),
        "circuitRef": [circuits[races[x["race"]]["circuit"]]["circuitId"] for x in pits],
        "driverRef": [drivers[x["driver"]]["driverId"] for x in pits],
        "stopNo": pa.array([x["stop"] for x in pits], pa.int32())}), f"{truth}/pitstops.parquet")
    counts = {"circuits": len(circuits), "constructors": len(constructors),
              "drivers": len(drivers), "seasons": seasons, "status": len(statuses),
              "schedule": len(races), "results": len(results), "pitstops": len(pits),
              "laps": len(laps_rec), "qualifying": len(quali),
              "driverStandings": len(dstand), "constructorStandings": len(cstand)}
    with open(f"{truth}/counts.json", "w") as f:
        json.dump(counts, f)
    return {"lake": f"{out}/lake", "run": run, "silver_rows": counts}


# ----------------------------------------------------------------- tx_churn

def gen_tx(out, seed, base_rows=20000, rounds=40, batch=400, merge_rows=300):
    """Base rows, per-round append and merge sources, and the per-round
    delete/update/read parameters. Keys are unique; appends use fresh keys
    above every existing one, so the clustered table keeps growing at its
    top end like an orders feed."""
    r = np.random.default_rng(seed)
    flags = np.array(["A", "N", "R"])

    def rows(keys):
        n = len(keys)
        return pa.table({
            "k": pa.array(keys, pa.int64()),
            "grp": pa.array(r.integers(0, 8, n), pa.int64()),
            "qty": pa.array(r.integers(1, 51, n), pa.int64()),
            "price": pa.array([f"{x:.2f}" for x in r.uniform(900, 105000, n)],
                              pa.string()),
            "sku": [f"sku-{x:06d}" for x in r.integers(0, 50000, n)],
            "flag": flags[r.integers(0, 3, n)]})

    def with_decimal(t):
        import decimal
        price = pa.array([decimal.Decimal(x) for x in t.column("price").to_pylist()],
                         pa.decimal128(18, 2))
        return t.set_column(t.schema.get_field_index("price"), "price", price)

    sku_of = {}  # key -> sku, as the verbs leave it

    def emit(t, path):
        sku_of.update(zip(t.column("k").to_pylist(), t.column("sku").to_pylist()))
        _write(with_decimal(t), path)

    emit(rows(np.arange(base_rows) * 2), f"{out}/input/base.parquet")
    top = base_rows * 2
    plan = []
    for i in range(rounds):
        keys = top + np.arange(batch) * 2
        top += batch * 2
        emit(rows(keys), f"{out}/input/append/{i:05d}.parquet")
        # merge source: existing keys (updates) plus odd keys (inserts)
        upd = r.choice(top // 2, merge_rows - merge_rows // 5, replace=False) * 2
        ins = r.choice(top // 2, merge_rows // 5, replace=False) * 2 + 1
        emit(rows(np.unique(np.concatenate([upd, ins]))), f"{out}/input/merge/{i:05d}.parquet")
        lo = int(r.integers(0, top - 4000))
        ulo = int(r.integers(0, top - 4000))
        # the round's reads target its delete range, so every round reads
        # the same mix of plain and deletion-vector files
        rlo = lo + int(r.integers(0, 2000))
        look = [k for k in (lo - lo % 2 + 2 * r.integers(0, 2000, 8)) if int(k) in sku_of]
        plan.append({
            "delete": {"lo": lo, "hi": lo + 4000, "qty_below": int(r.integers(5, 20))},
            "update": {"lo": ulo, "hi": ulo + 4000, "flag": str(flags[r.integers(0, 3)]),
                       "add": int(r.integers(1, 5))},
            "read": {"lo": rlo, "hi": rlo + 2000},
            "skus": [sku_of[int(k)] for k in look]})
    with open(f"{out}/input/plan.json", "w") as f:
        json.dump({"rounds": plan}, f)
    return {"rounds": rounds}
