"""Seeded F1 season: the `etl` workload's inputs, and their restatement.

`land()` writes the upstream tables of a season of R rounds, in the shapes
the reference DAGs read from fastf1 and Ergast: a driver table, the
season schedule, and per round the race and qualifying results, the first
practice session's laps, qualifying laps with speed-trap readings, and the
driver and constructor standings as Ergast JSON.

`expected()` restates, in plain Python, what the seven
`graft.pipelines.F1Pipelines` DAGs must leave in their stores after the
whole season has landed; `check()` compares the stores with it, order-free.
"""
import datetime as dt
import json
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

YEAR = 2025
DRIVERS = 20
LAPS = 12
PRACTICE = ["Practice 1"]
POINTS = [25, 18, 15, 12, 10, 8, 6, 4, 2, 1]
TEAMS = ["Alpha", "Bravo", "Charlie", "Delta", "Echo", "Foxtrot", "Golf",
         "Hotel", "India", "Juliet"]


def season(seed, rounds):
    rng = random.Random(seed)
    drivers = []
    for i in range(DRIVERS):
        given, family = f"Given{i:02d}", f"Family{i:02d}"
        drivers.append({
            "abbr": f"D{i:02d}", "fullName": f"{given} {family}",
            "team": TEAMS[i // 2], "url": f"https://img.example/d{i:02d}.png",
            "id": f"driver_{i:02d}", "given": given, "family": family,
            # the last driver has no permanent number (Ergast omits it)
            "number": None if i == DRIVERS - 1 else 2 + 3 * i,
        })
    rs = []
    for r in range(1, rounds + 1):
        fmt = "sprint" if rng.random() < 0.3 else "conventional"
        order = rng.sample(range(DRIVERS), DRIVERS)
        grid = rng.sample(range(1, DRIVERS + 1), DRIVERS)
        race = []
        for pos, d in enumerate(order, 1):
            retired = pos > 15 and rng.random() < 0.4
            race.append({"d": d, "pos": pos, "cls": "R" if retired else str(pos),
                         "pts": 0 if retired or pos > 10 else POINTS[pos - 1],
                         "grid": grid[d]})
        q_order = rng.sample(range(DRIVERS), DRIVERS)
        quali = [{"d": d, "pos": pos, "q1": 78000 + rng.randrange(4000),
                  "q2": 77000 + rng.randrange(3000) if pos <= 15 else None,
                  "q3": 76000 + rng.randrange(2000) if pos <= 10 else None}
                 for pos, d in enumerate(q_order, 1)]

        def laps():
            out = []
            for d in range(DRIVERS):
                for n in range(1, LAPS + 1):
                    out.append({"d": d, "lap": None if rng.random() < 0.05
                                else 80000 + rng.randrange(15000),
                                "compound": rng.choice(["SOFT", "MEDIUM", "HARD"]),
                                "n": float(n),
                                "speed": round(300 + rng.random() * 60, 1),
                                "deleted": rng.random() < 0.05})
            best = {}
            for x in out:
                if x["lap"] is not None and x["lap"] < best.get(x["d"], 10 ** 9):
                    best[x["d"]] = x["lap"]
            for x in out:
                x["pb"] = x["lap"] is not None and x["lap"] == best.get(x["d"])
            return out
        start = dt.datetime(YEAR, 3, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=14 * (r - 1))
        names = (["Practice 1", "Sprint Qualifying", "Sprint", "Qualifying", "Race"]
                 if fmt == "sprint" else ["Practice 1", "Practice 2", "Practice 3",
                                          "Qualifying", "Race"])
        dates = [None if i == 2 and rng.random() < 0.2 else
                 start + dt.timedelta(hours=24 * (i // 2) + 5 * (i % 2) + rng.randrange(3))
                 for i in range(5)]
        rs.append({"round": r, "format": fmt, "event": f"Round {r} Grand Prix",
                   "country": f"Country{r:02d}", "official": f"FORMULA 1 ROUND {r} {YEAR}",
                   "race": race, "quali": quali,
                   "practice": {s: laps() for s in PRACTICE}, "qlaps": laps(),
                   "sessions": list(zip(names, dates))})
    return {"drivers": drivers, "rounds": rs}


def standings(s, upto):
    """Driver and constructor standings after round `upto`, as the rows
    the Ergast payload describes: (entity, points, wins) ranked."""
    pts, wins = [0] * DRIVERS, [0] * DRIVERS
    for r in s["rounds"][:upto]:
        for x in r["race"]:
            pts[x["d"]] += x["pts"]
            wins[x["d"]] += x["cls"] == "1"
    drv = sorted(range(DRIVERS), key=lambda d: (-pts[d], d))
    teams = {}
    for d in range(DRIVERS):
        t = s["drivers"][d]["team"]
        p, w = teams.get(t, (0, 0))
        teams[t] = (p + pts[d], w + wins[d])
    con = sorted(teams, key=lambda t: (-teams[t][0], t))
    return ([(d, pts[d], wins[d]) for d in drv], [(t,) + teams[t] for t in con])


def _payload(s, upto):
    drv, con = standings(s, upto)
    ds = []
    for pos, (d, p, w) in enumerate(drv, 1):
        x = s["drivers"][d]
        driver = {"driverId": x["id"], "givenName": x["given"], "familyName": x["family"]}
        if x["number"] is not None:
            driver["permanentNumber"] = str(x["number"])
        ds.append({"position": str(pos), "positionText": str(pos), "points": str(p),
                   "wins": str(w), "Driver": driver,
                   "Constructors": [{"constructorId": x["team"].lower(), "name": x["team"]}]})
    cs = [{"position": str(pos), "positionText": str(pos), "points": str(p), "wins": str(w),
           "Constructor": {"constructorId": t.lower(), "name": t}}
          for pos, (t, p, w) in enumerate(con, 1)]
    wrap = lambda k, v: json.dumps({"MRData": {"StandingsTable": {
        "StandingsLists": [{k: v}]}}})
    return wrap("DriverStandings", ds), wrap("ConstructorStandings", cs)


def land(out_dir, seed, rounds):
    """Write the season's upstream inputs under `out_dir`; returns the
    season. `rounds.tsv` lists round, event name and format for
    `perfbench.Main`."""
    s = season(seed, rounds)
    os.makedirs(out_dir, exist_ok=True)
    D = s["drivers"]
    w = lambda name, cols: pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")
    w("drivers", {"Abbreviation": [x["abbr"] for x in D],
                  "FullName": [x["fullName"] for x in D],
                  "HeadshotUrl": [x["url"] for x in D]})
    ts = pa.timestamp("us", tz="UTC")
    sched = {"RoundNumber": pa.array([r["round"] for r in s["rounds"]], pa.int32()),
             "Country": [r["country"] for r in s["rounds"]],
             "OfficialEventName": [r["official"] for r in s["rounds"]],
             "EventName": [r["event"] for r in s["rounds"]],
             "EventFormat": [r["format"] for r in s["rounds"]]}
    for i in range(5):
        sched[f"Session{i + 1}"] = [r["sessions"][i][0] for r in s["rounds"]]
        sched[f"Session{i + 1}DateUtc"] = pa.array(
            [r["sessions"][i][1] for r in s["rounds"]], ts)
    w("schedule", sched)
    with open(f"{out_dir}/rounds.tsv", "w") as f:
        for r in s["rounds"]:
            f.write(f"{r['round']}\t{r['event']}\t{r['format']}\n")
    for r in s["rounds"]:
        n = r["round"]
        w(f"race_{n}", {
            "FullName": [D[x["d"]]["fullName"] for x in r["race"]],
            "TeamName": [D[x["d"]]["team"] for x in r["race"]],
            "HeadshotUrl": [D[x["d"]]["url"] for x in r["race"]],
            "Position": [float(x["pos"]) for x in r["race"]],
            "ClassifiedPosition": [x["cls"] for x in r["race"]],
            "Points": [float(x["pts"]) for x in r["race"]],
            "GridPosition": [float(x["grid"]) for x in r["race"]]})
        w(f"quali_{n}", {
            "FullName": [D[x["d"]]["fullName"] for x in r["quali"]],
            "TeamName": [D[x["d"]]["team"] for x in r["quali"]],
            "HeadshotUrl": [D[x["d"]]["url"] for x in r["quali"]],
            "Position": [float(x["pos"]) for x in r["quali"]],
            "Q1": pa.array([x["q1"] for x in r["quali"]], pa.int64()),
            "Q2": pa.array([x["q2"] for x in r["quali"]], pa.int64()),
            "Q3": pa.array([x["q3"] for x in r["quali"]], pa.int64())})
        for name, laps in list(r["practice"].items()) + [("Qualifying", r["qlaps"])]:
            w(f"laps_{n}_{name.replace(' ', '')}", {
                "Driver": [D[x["d"]]["abbr"] for x in laps],
                "LapTime": pa.array([x["lap"] for x in laps], pa.int64()),
                "Compound": [x["compound"] for x in laps],
                "IsPersonalBest": [x["pb"] for x in laps],
                "LapNumber": [x["n"] for x in laps],
                "SpeedST": [x["speed"] for x in laps],
                "Deleted": [x["deleted"] for x in laps]})
        drv, con = _payload(s, n)
        for name, text in (("driver_standings", drv), ("constructor_standings", con)):
            with open(f"{out_dir}/{name}_{n}.json", "w") as f:
                f.write(text)
    return s


def _laptime(ms):
    return None if ms is None else f"{ms // 60000:02d}:{ms % 60000 // 1000:02d}.{ms % 1000:03d}"


def expected(s):
    """Store name -> list of rows every DAG's store must hold once the
    whole season has landed (standings: after the last round; the
    `timestamp` column is the ingest time and is left out)."""
    D, R = s["drivers"], s["rounds"]
    out = {k: [] for k in ("race", "quali", "practice", "topspeed", "schedule")}
    for r in R:
        n, fmt = r["round"], r["format"]
        key = f"{YEAR}_{n}"
        out["race"].append((key, r["event"], fmt, [
            (D[x["d"]]["team"], D[x["d"]]["url"], x["pos"], D[x["d"]]["fullName"],
             x["cls"], x["pts"], x["grid"]) for x in r["race"]]))
        out["quali"].append((key, r["event"], [
            (D[x["d"]]["fullName"], D[x["d"]]["team"], D[x["d"]]["url"], x["pos"],
             _laptime(x["q1"]), _laptime(x["q2"]), _laptime(x["q3"])) for x in r["quali"]]))
        for name, laps in r["practice"].items():
            out["practice"].append((YEAR, n, name, fmt, [
                (D[x["d"]]["abbr"], D[x["d"]]["url"], x["compound"], _laptime(x["lap"]),
                 x["n"], x["pb"], D[x["d"]]["fullName"]) for x in laps if x["lap"] is not None]))
        top = {}
        for x in r["qlaps"]:
            if not x["deleted"]:
                top[x["d"]] = max(top.get(x["d"], 0.0), x["speed"])
        out["topspeed"].append((YEAR, n, "Qualifying", fmt,
                                [(D[d]["abbr"], v) for d, v in top.items()]))
        sess = []
        for name, when in r["sessions"]:
            sess += [name, "" if when is None else when.strftime("%Y-%m-%dT%H:%M:%SZ")]
        out["schedule"].append(tuple([f"{n}-{YEAR}", n, r["country"], r["official"],
                                      r["event"], fmt, str(YEAR)] + sess))
    drv, con = standings(s, len(R))
    out["driver_standings"] = [
        (D[d]["number"] or 0, D[d]["team"], D[d]["id"], D[d]["family"], D[d]["given"],
         p, pos, str(pos), w) for pos, (d, p, w) in enumerate(drv, 1)]
    out["constructor_standings"] = [
        (t.lower(), t, p, pos, str(pos), w) for pos, (t, p, w) in enumerate(con, 1)]
    return out


def canon(v):
    """Order-free canonical form: lists are compared as multisets."""
    if isinstance(v, (list, tuple)):
        items = [canon(x) for x in v]
        return "[" + ",".join(sorted(items)) + "]" if isinstance(v, list) \
            else "(" + ",".join(items) + ")"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, float):
        return repr(v)
    return "null" if v is None else repr(v)


def check(store_dir, s):
    """Names of the stores whose rows differ from the restatement."""
    con = duckdb.connect()
    bad = []
    for name, rows in expected(s).items():
        try:
            got = con.execute(f"SELECT * FROM '{store_dir}/{name}/*.parquet'")
            cols = [c[0] for c in got.description]
            fetched = got.fetchall()
            if "timestamp" in cols:
                i = cols.index("timestamp")
                if any(not r[i] for r in fetched):
                    bad.append(name)
                    continue
                fetched = [r[:i] + r[i + 1:] for r in fetched]
            if sorted(canon(tuple(r)) for r in fetched) != sorted(canon(r) for r in rows):
                bad.append(name)
        except duckdb.Error:
            bad.append(name)
    con.close()
    return bad
