"""Correctness gates that run after the benchmark JVM, untimed.

* daily_etl: every same-date replay reports all zero/false; every new
  day reports what its feed implies; the final fct_flights equals a
  DuckDB recomputation from the generated files.
* analyst_sweep: each timed headliner's result matches its DuckDB oracle
  (the dumps `graft.Verify` wrote, compared by tools/check.py).

The lake_dml gate (table and reads against the op-stream model) runs
inside the JVM; its failures arrive with the run's result.
"""
import csv
import datetime as dt
import json
import os
import subprocess
import sys

import duckdb

import gen

DIM_DATES = (dt.date(2028, 1, 1) - dt.date(2018, 1, 1)).days + 1


def run(workload, root, inputs, detail):
    """Returns (gates attempted, failure messages)."""
    attempted, failures = 0, []
    if "etl_reports" in detail:
        a, f = etl(os.path.join(inputs, "etl"), detail)
        attempted += a
        failures += f
    if workload == "analyst_sweep":
        a, f = oracle(root, os.path.join(inputs, "analyst"), detail["verify_dir"])
        attempted += a
        failures += f
    return attempted, failures


def _feed(etl_dir):
    """Generated flights by logical day: list of CSV rows."""
    by_day = {}
    with open(os.path.join(etl_dir, "flights.csv"), newline="") as f:
        for row in csv.reader(f):
            by_day.setdefault(int(row[0]), []).append(tuple(row[1:]))
    return by_day


def etl(etl_dir, detail):
    reports = detail["etl_reports"]
    feed = _feed(etl_dir)
    attempted, failures = 0, []

    def gate(ok, msg):
        nonlocal attempted
        attempted += 1
        if not ok:
            failures.append(msg)

    for r in reports:
        day, rows = r["day"], feed.get(r["day"], [])
        got = (r["extracted"], r["airports_rewritten"], r["dates_added"],
               r["aircrafts_rewritten"], r["fact_rows"])
        if r["replay"]:
            gate(got == (0, False, 0, False, 0),
                 f"etl replay of day {day} changed the store: {got}")
            continue
        # a new day: the first run writes the feed as fetched, later
        # runs append its distinct rows; the fact keeps distinct tuples
        first = day == 0
        want_extract = len(rows) if first else len(set(rows))
        facts = {(x[1], x[2], x[3], x[4], x[5]) for x in rows}
        want = (want_extract, first, DIM_DATES if first else 0, first, len(facts))
        gate(got == want, f"etl day {day} report {got}, expected {want}")

    days = sorted({r["day"] for r in reports})
    gate(_fact_matches(etl_dir, detail["etl_fact_dir"], days),
         f"fct_flights differs from the recomputation over days {days}")
    return attempted, failures


def _fact_matches(etl_dir, fact_dir, days):
    """fct_flights equals the star join recomputed from the generated files."""
    con = duckdb.connect()
    cols = ", ".join(f"'c{i}': 'VARCHAR'" for i in range(15))
    con.execute(f"""CREATE VIEW aircraft AS SELECT * FROM read_csv(
        '{etl_dir}/aircrafts.csv', header = false, delim = ',', quote = '"',
        columns = {{{cols}}})""")
    con.execute(f"""CREATE VIEW airport AS SELECT * FROM read_csv(
        '{etl_dir}/airports.csv', header = false, delim = ',', quote = '"',
        columns = {{'name': 'VARCHAR', 'iata': 'VARCHAR', 'icao': 'VARCHAR',
                    'country': 'VARCHAR', 'lat': 'VARCHAR', 'lon': 'VARCHAR',
                    'alt': 'VARCHAR'}})""")
    con.execute(f"""CREATE VIEW feed AS SELECT * FROM read_csv(
        '{etl_dir}/flights.csv', header = false, delim = ',', quote = '"',
        columns = {{'day': 'INTEGER', 'direction': 'VARCHAR', 'icao24': 'VARCHAR',
                    'first_seen': 'BIGINT', 'dep': 'VARCHAR', 'last_seen': 'BIGINT',
                    'arr': 'VARCHAR', 'callsign': 'VARCHAR', 'h1': 'INTEGER',
                    'v1': 'INTEGER', 'h2': 'INTEGER', 'v2': 'INTEGER',
                    'c1': 'SMALLINT', 'c2': 'SMALLINT'}})""")
    first = gen.FIRST_DAY.isoformat()
    want = f"""
        WITH ac AS (
          SELECT c0 AS icao24, row_number() OVER (ORDER BY c0) AS id
          FROM aircraft
          WHERE (length(c5) <= 4 OR c5 IS NULL) AND (length(c8) = 3 OR c8 IS NULL)),
        ap AS (SELECT icao, row_number() OVER (ORDER BY name) AS id FROM airport)
        SELECT DISTINCT ac.id AS aircraft_dim_id, first_seen AS depart_s,
               dep.id AS depart_airport_dim_id, last_seen AS arrival_s,
               arr.id AS arrival_airport_dim_id,
               CAST(strftime(DATE '{first}' + day, '%Y%m%d') AS INTEGER)
                 AS flight_date_dim_id
        FROM feed
        LEFT JOIN ac ON feed.icao24 = ac.icao24
        LEFT JOIN ap dep ON feed.dep = dep.icao
        LEFT JOIN ap arr ON feed.arr = arr.icao
        WHERE day IN ({", ".join(map(str, days)) or "NULL"})"""
    got = f"""
        SELECT aircraft_dim_id, CAST(epoch(depart_ts) AS BIGINT) AS depart_s,
               depart_airport_dim_id, CAST(epoch(arrival_ts) AS BIGINT) AS arrival_s,
               arrival_airport_dim_id, flight_date_dim_id
        FROM read_parquet('{fact_dir}/*/*.parquet', hive_partitioning = true,
                          hive_types = {{'flight_date_dim_id': INTEGER}})"""
    diff = con.execute(f"""SELECT
        (SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))),
        (SELECT count(*) FROM (({got}) EXCEPT ALL ({want})))""").fetchone()
    return diff == (0, 0)


def oracle(root, data_dir, verify_dir):
    """Runs tools/check.py; every timed headliner must PASS."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        data_dir, verify_dir], capture_output=True, text=True,
                       timeout=120)
    passed = {line.split()[1].rstrip(":") for line in r.stdout.splitlines()
              if line.startswith("PASS ")}
    dumped = sorted(d for d in os.listdir(verify_dir)
                    if os.path.isdir(os.path.join(verify_dir, d)))
    failures = [f"oracle: {n} does not match its DuckDB oracle"
                for n in dumped if n not in passed]
    failures += [f"oracle: {n} has no DuckDB oracle" for n in dumped if n not in names]
    return len(dumped), failures
