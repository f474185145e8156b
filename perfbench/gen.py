"""Seeded input generators for the benchmark.

Everything the program reads in a benchmark run is made here from
`--seed`: the same seed gives byte-identical inputs.

* `analyst_tables` writes the star schema the query registry reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) as one parquet file per table, shaped like the
  TPC-H-ish test data the registry's oracles were written against.
* `etl_inputs` writes the daily pipeline's reference files (the
  aircraft DB CSV, doc8643 types and manufacturers, airlines and
  airports) and a per-day flight feed for one airport.
"""
import csv
import datetime as dt
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _days_us(start, n_days, rng, size, whole_days=True):
    """Random timestamps (epoch microseconds) in [start, start + n_days)."""
    base = int((start - EPOCH).total_seconds()) * 1_000_000
    if whole_days:
        return base + rng.integers(0, n_days, size) * 86_400_000_000
    return base + rng.integers(0, n_days * 86_400_000_000, size)


def _write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# analyst star schema
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "large"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("the a fast slow big small key value row column table data query "
         "join merge sort hash scan filter group agg window order line part "
         "customer batch stream spark vector dup").split()


def analyst_tables(out_dir, seed, sf):
    """The registry's ten tables at scale factor `sf` (sf 0.01 holds
    60k lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = 4 * n_ord, int(1_000_000 * sf)
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    span = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days + 1
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(
            _days_us(dt.datetime(1995, 1, 1), span, r, n_ord), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105_000, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            _days_us(dt.datetime(1995, 1, 2), span + 94, r, n_line),
            pa.timestamp("us"))})
    ts = np.sort(_days_us(dt.datetime(2024, 1, 1), 30, r, n_evt, whole_days=False))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_user, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_evt)],
        "value": np.round(r.exponential(30.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(words), int(r.integers(8, 90)))])
             for _ in range(n_doc)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# --------------------------------------------------------------------------
# daily ETL inputs
# --------------------------------------------------------------------------

AIRPORT = "EDDF"
FIRST_DAY = dt.date(2024, 1, 1)
# type code -> (AircraftDescription, EngineCount, EngineType); one row per
# code survives prepareTypes' dedup, so the dim join never fans out
TYPE_KINDS = {"L": "LandPlane", "S": "SeaPlane", "A": "Amphibian",
              "H": "Helicopter", "T": "Tiltrotor"}
ENGINE_KINDS = {"P": "Piston", "T": "Turboprop/Turboshaft", "J": "Jet",
                "E": "Electric"}
SENTINEL_LINE = ["\tN/A", "-", "n/a"]


def _codes(rng, n, length, alphabet=string.ascii_uppercase):
    out, seen = [], set()
    while len(out) < n:
        c = "".join(rng.choice(list(alphabet), length))
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def etl_inputs(out_dir, seed, n_aircraft, n_days, flights_per_dir):
    """Reference files plus `n_days` days of flights from FIRST_DAY on.

    Returns nothing; files land in `out_dir`:
    aircrafts.csv (headerless, Schemas.srcAircrafts order), types.csv,
    manufacturers.csv (first row header-ish, skipped by the job),
    airlines.csv, airports.csv and flights.csv (one row per flight with
    its logical day and direction).
    """
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 2)
    airports = [AIRPORT] + [c for c in _codes(r, 121, 4) if c != AIRPORT][:119]
    iatas = _codes(r, len(airports), 3)
    with open(os.path.join(out_dir, "airports.csv"), "w", newline="") as f:
        w = csv.writer(f)
        for i, (icao, iata) in enumerate(zip(airports, iatas)):
            # FR24 JSON quirks the job normalises: int-or-float lat/lon,
            # "-1" as the missing-altitude sentinel
            lat = int(r.integers(-60, 70)) if i % 3 == 0 else round(float(r.uniform(-60, 70)), 4)
            lon = int(r.integers(-170, 170)) if i % 4 == 0 else round(float(r.uniform(-170, 170)), 4)
            alt = -1 if i % 10 == 0 else int(r.integers(0, 3000))
            w.writerow([f"Airport {icao}", iata, icao, f"Country {i % 30}", lat, lon, alt])

    type_codes = sorted({k + str(e) + g for k in TYPE_KINDS for e in (1, 2, 4)
                         for g in ENGINE_KINDS})[:40]
    with open(os.path.join(out_dir, "types.csv"), "w", newline="") as f:
        w = csv.writer(f)
        for i, designator in enumerate(_codes(r, 160, 4, string.ascii_uppercase + string.digits)):
            code = type_codes[i % len(type_codes)]
            w.writerow([TYPE_KINDS[code[0]], code, designator, code[1],
                        ENGINE_KINDS[code[2]], f"M{i % 50:03d}",
                        f"MODEL {designator}", "LMH"[i % 3]])

    mfr_codes = _codes(r, 120, 5)
    with open(os.path.join(out_dir, "manufacturers.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Code", "Name"])
        for c in mfr_codes:
            w.writerow([c, f"MAKER {c}"])

    al_iata = _codes(r, 200, 2)
    al_icao = _codes(r, 200, 3)
    with open(os.path.join(out_dir, "airlines.csv"), "w", newline="") as f:
        w = csv.writer(f)
        for i, (iata, icao) in enumerate(zip(al_iata, al_icao)):
            w.writerow([f"Airline {i}", iata, icao])

    # icao24 addresses: distinct 24-bit hex, spread over the space
    addr = (np.arange(1, n_aircraft + 1) * 2_654_435_761) % (1 << 24)
    icao24 = [f"{a:06x}" for a in addr]
    valid = []
    with open(os.path.join(out_dir, "aircrafts.csv"), "w", newline="") as f:
        w = csv.writer(f)
        for i in range(n_aircraft):
            malformed = i % 97 == 13          # 5-char type: cleansed away
            tcode = "" if i % 11 == 0 else type_codes[int(r.integers(0, len(type_codes)))]
            if malformed:
                tcode = tcode or "L2JX"
                tcode = tcode + "X" if len(tcode) == 3 else tcode
            op = int(r.integers(0, 260))
            op_icao = al_icao[op] if op < 200 and op % 3 else ""
            op_iata = al_iata[op] if op < 200 and op % 3 == 0 else ""
            w.writerow([
                icao24[i],
                "-UNKNOWN-" if i % 53 == 0 else f"D-{icao24[i].upper()}",
                mfr_codes[int(r.integers(0, len(mfr_codes)))] if i % 17 else "",
                "", f"Model {i % 300}",
                type_codes[i % len(type_codes)][:2] + "A" if i % 7 else "",
                str(10_000 + i),
                SENTINEL_LINE[i % 3] if i % 29 == 0 else str(i % 5000),
                tcode,
                f"Operator {op}", "", op_icao, op_iata, "", ""])
            if not malformed:
                valid.append(icao24[i])

    # per-day feed: departures inside [begin, end] by firstSeen and
    # arrivals by lastSeen, so a same-date replay extracts nothing new
    with open(os.path.join(out_dir, "flights.csv"), "w", newline="") as f:
        w = csv.writer(f)
        valid = np.array(valid)
        for d in range(n_days):
            day = FIRST_DAY + dt.timedelta(days=d)
            begin = int(dt.datetime(day.year, day.month, day.day).replace(
                tzinfo=dt.timezone.utc).timestamp())
            for direction in ("departure", "arrival"):
                n = flights_per_dir
                anchor = begin + r.integers(0, 86_400, n)
                dur = r.integers(1_800, 14 * 3_600, n)
                others = np.array(airports[1:])[r.integers(0, len(airports) - 1, n)]
                planes = valid[r.integers(0, len(valid), n)]
                for j in range(n):
                    if direction == "departure":
                        first, last = int(anchor[j]), int(anchor[j] + dur[j])
                        dep, arr = AIRPORT, (others[j] if j % 41 else "")
                    else:
                        first, last = int(anchor[j] - dur[j]), int(anchor[j])
                        dep, arr = (others[j] if j % 43 else ""), AIRPORT
                    row = [d, direction, planes[j], first, dep, last, arr,
                           f"CS{int(r.integers(0, 9999)):04d}",
                           int(r.integers(0, 5000)), int(r.integers(0, 500)),
                           int(r.integers(0, 5000)), int(r.integers(0, 500)),
                           int(r.integers(0, 6)), int(r.integers(0, 6))]
                    w.writerow(row)
                    if j % 97 == 5:           # the feed repeats a record
                        w.writerow(row)
