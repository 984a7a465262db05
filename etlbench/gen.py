"""Deterministic input generators for the three benchmark workloads.

Every generator takes a seed and a size and writes its inputs plus a
`meta.json` next to them. The meta file records the planted dirty-value
rates and the values the output checks expect, derived here in plain
Python from the generated records (never by the engine under test).
`run.py` calls `write_calls`, `write_stream` and `write_tables` with the
benchmark's sizes.
"""

import csv
import datetime as dt
import json
import os
import random
import re

# ---------------------------------------------------------------------------
# Batch CSV: Call_Data.csv with the FIXTURES.md section 1 columns.
# ---------------------------------------------------------------------------

CSV_COLUMNS = [
    "CAD Event Number", "CAD Event Clearance Description", "Call Type", "Priority",
    "Initial Call Type", "Final Call Type", "CAD Event Response Category",
    "Call Type Received Classification", "Call Type Indicator",
    "CAD Event Original Time Queued", "CAD Event Arrived Time",
    "CAD Event First Response Time (s)", "Call Sign Dispatch ID",
    "Call Sign Dispatch Time", "Call Sign at Scene Time", "Call Sign In-Service Time",
    "Call Sign Dispatch Delay Time (s)", "Call Sign Response Time (s)",
    "Call Sign Total Service Time (s)",
    "First SPD Call Sign at Scene Time", "First SPD Call Sign Dispatch Time",
    "Last SPD Call Sign In-Service Time", "SPD Call Sign Total Service Time (s)",
    "First SPD Call Sign Dispatch Delay Time (s)", "First SPD Call Sign Response Time (s)",
    "First CARE Call Sign At Scene Time", "First CARE Call Sign Dispatch Time",
    "Last CARE Call Sign In-Service Time", "CARE Call Sign Total Service Time (s)",
    "First CARE Call Sign Dispatch Delay Time (s)", "First CARE Call Sign Response Time (s)",
    "First Co-Response Call Sign At Scene Time", "First Co-Response Call Sign Dispatch Time",
    "Last Co-Response Call Sign In-Service Time",
    "First Co-Response Call Sign Dispatch Delay Time (s)",
    "First Co-Response Call Sign Response Time (s)",
    "Dispatch Precinct", "Dispatch Sector", "Dispatch Beat", "Dispatch Neighborhood",
    "Dispatch Longitude", "Dispatch Latitude", "Dispatch Reporting Area",
]

# Planted dirty-value rates. Row-level rates apply per dispatch row, event
# rates per CAD event (all of an event's dispatch rows).
CALL_RATES = {
    "ampm_12_edge": 0.08,         # queued time at 12:xx AM / 12:xx PM
    "malformed_timestamp": 0.01,  # unparseable queued or dispatch time
    "malformed_row": 0.005,       # non-numeric event number or priority
    "null_arrival": 0.02,         # empty arrival time -> row dropped
    "null_in_service_event": 0.03,  # one empty in-service time -> event anti-joined
    "care_arm": 0.35,             # CARE instead of SPD fills the coalesce pair
    "null_priority": 0.02,
    "null_sector": 0.02,
    "null_response_time": 0.05,   # response time recomputed from timestamps
}

CALL_TYPES = ["911", "ONVIEW", "TELEPHONE OTHER, NOT 911", "ALARM CALL", "TEXT MESSAGE"]
CLEARANCES = ["REPORT WRITTEN", "ASSISTANCE RENDERED", "NO ACTION", "UNABLE TO LOCATE"]
CATEGORIES = ["SPD", "CARE", "CO-RESPONSE"]
PRECINCTS = ["NORTH", "SOUTH", "EAST", "WEST", "SOUTHWEST"]
NEIGHBORHOODS = ["BALLARD", "FREMONT", "CAPITOL HILL", "BEACON HILL", "DELRIDGE"]


def ampm(t):
    """`MM/dd/yyyy hh:mm:ss AM|PM`, the raw CAD timestamp format."""
    return t.strftime("%m/%d/%Y %I:%M:%S %p")


def _malformed_time(rng):
    return rng.choice(["13/45/2023 25:61:00 XM", "not a time", "02/30/2023 10:00 PM"])


def generate_calls(seed, rows):
    """Returns (header, data rows, meta). `rows` counts dispatch rows."""
    rng = random.Random(seed)
    base = dt.datetime(2023, 1, 1)
    out = []
    planted = {k: 0 for k in ("ampm_12_edge", "malformed_timestamp", "malformed_row",
                              "null_arrival", "null_in_service_event", "care_arm")}
    event_no = 2023000000
    while len(out) < rows:
        event_no += 1
        queued = base + dt.timedelta(seconds=rng.randrange(365 * 86400))
        if rng.random() < CALL_RATES["ampm_12_edge"]:
            queued = queued.replace(hour=rng.choice([0, 12]))
            planted["ampm_12_edge"] += 1
        ev = {
            "CAD Event Number": str(event_no),
            "CAD Event Clearance Description": rng.choice(CLEARANCES),
            "Call Type": rng.choice(CALL_TYPES),
            "Priority": "" if rng.random() < CALL_RATES["null_priority"] else str(rng.randint(1, 9)),
            "Initial Call Type": rng.choice(CALL_TYPES),
            "Final Call Type": rng.choice(CALL_TYPES),
            "CAD Event Response Category": rng.choice(CATEGORIES),
            "Call Type Received Classification": rng.choice(["EMERGENCY", "NON EMERGENCY"]),
            "Call Type Indicator": rng.choice(["CALL", "ONVIEW"]),
            "CAD Event Original Time Queued": ampm(queued),
            "CAD Event Arrived Time": ampm(queued + dt.timedelta(seconds=rng.randint(60, 3600))),
            "CAD Event First Response Time (s)": str(rng.randint(30, 3000)),
            "Dispatch Precinct": rng.choice(PRECINCTS),
            "Dispatch Sector": "" if rng.random() < CALL_RATES["null_sector"] else rng.choice("ABCDEFGHJK"),
            "Dispatch Beat": rng.choice("ABCDEF") + str(rng.randint(1, 3)),
            "Dispatch Neighborhood": rng.choice(NEIGHBORHOODS),
            "Dispatch Longitude": "%.6f" % (-122.3 - rng.random() * 0.1),
            "Dispatch Latitude": "%.6f" % (47.5 + rng.random() * 0.2),
            "Dispatch Reporting Area": "RA" + str(rng.randint(1, 99)),
        }
        n_disp = rng.randint(1, 3)
        null_in_service_at = rng.randrange(n_disp) \
            if rng.random() < CALL_RATES["null_in_service_event"] else -1
        if null_in_service_at >= 0:
            planted["null_in_service_event"] += 1
        for d in range(n_disp):
            r = dict(ev)
            disp = queued + dt.timedelta(seconds=rng.randint(10, 900))
            scene = disp + dt.timedelta(seconds=rng.randint(60, 1800))
            inserv = scene + dt.timedelta(seconds=rng.randint(300, 7200))
            r["Call Sign Dispatch ID"] = "%d-%s%d" % (event_no, rng.choice("ABEKLM"), rng.randint(1, 40))
            r["Call Sign Dispatch Time"] = ampm(disp)
            r["Call Sign at Scene Time"] = "" if rng.random() < 0.05 else ampm(scene)
            r["Call Sign In-Service Time"] = "" if d == null_in_service_at else ampm(inserv)
            r["Call Sign Dispatch Delay Time (s)"] = str(rng.randint(1, 600))
            r["Call Sign Response Time (s)"] = \
                "" if rng.random() < CALL_RATES["null_response_time"] else str(rng.randint(30, 3000))
            r["Call Sign Total Service Time (s)"] = str(rng.randint(300, 9000))
            care = rng.random() < CALL_RATES["care_arm"]
            planted["care_arm"] += care
            on, off = ("CARE", "SPD") if care else ("SPD", "CARE")
            arm = {
                "First %s Call Sign %s Scene Time": ampm(scene),
                "First %s Call Sign Dispatch Time": ampm(disp),
                "Last %s Call Sign In-Service Time": ampm(inserv),
                "%s Call Sign Total Service Time (s)": str(rng.randint(300, 9000)),
                "First %s Call Sign Dispatch Delay Time (s)": str(rng.randint(1, 600)),
                "First %s Call Sign Response Time (s)": str(rng.randint(30, 3000)),
            }
            for pattern, value in arm.items():
                for agency, v in ((on, value), (off, "")):
                    # the raw headers spell "at Scene" for SPD, "At Scene" for CARE
                    col = pattern % (agency, "at" if agency == "SPD" else "At") \
                        if "Scene" in pattern else pattern % agency
                    r[col] = v
            co = rng.random() < 0.2
            r["First Co-Response Call Sign At Scene Time"] = ampm(scene) if co else ""
            r["First Co-Response Call Sign Dispatch Time"] = ampm(disp) if co else ""
            r["Last Co-Response Call Sign In-Service Time"] = ampm(inserv) if co else ""
            r["First Co-Response Call Sign Dispatch Delay Time (s)"] = str(rng.randint(1, 600)) if co else ""
            r["First Co-Response Call Sign Response Time (s)"] = str(rng.randint(30, 3000)) if co else ""
            if rng.random() < CALL_RATES["malformed_timestamp"]:
                r[rng.choice(["CAD Event Original Time Queued", "Call Sign Dispatch Time"])] = \
                    _malformed_time(rng)
                planted["malformed_timestamp"] += 1
            if rng.random() < CALL_RATES["null_arrival"]:
                r["CAD Event Arrived Time"] = ""
                planted["null_arrival"] += 1
            out.append(r)
            if rng.random() < CALL_RATES["malformed_row"]:
                # a stray junk row: DROPMALFORMED removes it before any step
                bad = dict(r)
                if rng.random() < 0.5:
                    bad["CAD Event Number"] = "CAD-%d" % event_no
                else:
                    bad["Priority"] = "P" + str(rng.randint(1, 9))
                bad["__malformed"] = True
                out.append(bad)
                planted["malformed_row"] += 1
    out = out[:rows]
    meta = {"seed": seed, "rows": rows, "rates": CALL_RATES,
            "planted": planted, "expected": expected_calls(out)}
    return out, meta


def expected_calls(rows):
    """Star-table row count the reference transform must produce: drop
    malformed rows, then rows without an arrival time, then every row of an
    event that still has a row without an in-service time."""
    good = [r for r in rows if not r.get("__malformed")]
    arrived = [r for r in good if r["CAD Event Arrived Time"] != ""]
    bad_events = {r["CAD Event Number"] for r in arrived if r["Call Sign In-Service Time"] == ""}
    kept = [r for r in arrived if r["CAD Event Number"] not in bad_events]
    return {
        "rows_in": len(rows),
        "malformed_rows": len(rows) - len(good),
        "null_arrival_rows": len(good) - len(arrived),
        "antijoin_removed": len(arrived) - len(kept),
        "star_rows": len(kept),
        "star_events": len({r["CAD Event Number"] for r in kept}),
    }


def write_calls(seed, rows, out_dir):
    data, meta = generate_calls(seed, rows)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "Call_Data.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(CSV_COLUMNS)
        for r in data:
            w.writerow([r[c] for c in CSV_COLUMNS])
    _write_meta(out_dir, meta)
    return meta


# ---------------------------------------------------------------------------
# Stream JSON backlog: FIXTURES.md section 2, the 45-field Kafka payload.
# ---------------------------------------------------------------------------

DURATION_COLUMNS = [
    "care_call_sign_total_service_time_s_",
    "co_response_call_sign_total_service_time_s_",
    "spd_call_sign_total_service_time_s_",
    "call_sign_total_service_time_s_",
    "first_care_call_sign_dispatch_delay_time_s_",
    "first_care_call_sign_response_time_s_",
    "first_co_response_call_sign_dispatch_delay_time_s_",
    "first_co_response_call_sign_response_time_s_",
    "first_spd_call_sign_dispatch_delay_time_s_",
    "first_spd_call_sign_response_time_s_",
    "call_sign_dispatch_delay_time_s_",
    "call_sign_response_time_s_",
    "cad_event_first_response_time_s_",
]
STREAM_TIMESTAMPS = [
    "cad_event_original_time_queued", "cad_event_arrived_time", "call_sign_dispatch_time",
    "first_care_call_sign_at_scene_time", "first_care_call_sign_dispatch_time",
    "first_co_response_call_sign_at_scene_time", "first_co_response_call_sign_dispatch_time",
    "last_co_response_call_sign_in_service_time", "last_spd_call_sign_in_service_time",
    "call_sign_at_scene_time", "call_sign_in_service_time",
    # typed as strings by the stream schema, carried as the same ISO text
    "first_spd_call_sign_at_scene_time", "first_spd_call_sign_dispatch_time",
    "last_care_call_sign_in_service_time",
]
STREAM_STRINGS = [
    "cad_event_clearance_description", "call_type", "priority", "initial_call_type",
    "final_call_type", "dispatch_precinct", "dispatch_sector", "dispatch_beat",
    "dispatch_longitude", "dispatch_latitude", "dispatch_reporting_area",
    "cad_event_response_category", "call_sign_dispatch_id", "call_type_indicator",
    "dispatch_neighborhood", "call_type_received_classification",
]

STREAM_RATES = {
    "duplicate_key": 0.10,     # record repeats an earlier key (later copy wins)
    "dirty_spaces": 0.10,      # " 456 "
    "dirty_suffix": 0.10,      # "78s"
    "dirty_empty": 0.05,       # "" -> null
    "dirty_null": 0.05,        # JSON null -> null
    "missing_field": 0.03,     # field absent -> from_json null
}


def e8(value):
    """Plain-Python twin of the E8 cast: strip non-digits, cast to int."""
    if value is None:
        return None
    digits = re.sub(r"[^0-9]", "", value).strip()
    return int(digits) if digits else None


def _dirty(rng, n):
    u = rng.random()
    r = STREAM_RATES
    if u < r["dirty_spaces"]:
        return " %d " % n
    u -= r["dirty_spaces"]
    if u < r["dirty_suffix"]:
        return "%ds" % n
    u -= r["dirty_suffix"]
    if u < r["dirty_empty"]:
        return ""
    u -= r["dirty_empty"]
    if u < r["dirty_null"]:
        return None
    return str(n)


def generate_stream(seed, records):
    """Returns (records as dicts in backlog order, meta). Later copies of a
    key carry a later `processed_at`, so the last copy in backlog order is the
    one an upsert store must keep."""
    rng = random.Random(seed)
    base = dt.datetime(2024, 3, 1)
    stamp = dt.datetime(2024, 6, 1)
    out, keys = [], []
    for i in range(records):
        if keys and rng.random() < STREAM_RATES["duplicate_key"]:
            key = rng.choice(keys)
        else:
            key = str(2024000000 + len(keys) * 7 + rng.randrange(7))
            keys.append(key)
        t = base + dt.timedelta(seconds=rng.randrange(90 * 86400))
        rec = {"cad_event_number": key}
        for c in STREAM_STRINGS:
            rec[c] = "%s_%d" % (c.split("_")[0], rng.randrange(12))
        rec["call_type"] = rng.choice(CALL_TYPES)
        rec["call_sign_dispatch_id"] = "%s-%s%d" % (key, rng.choice("ABEKLM"), rng.randint(1, 40))
        for j, c in enumerate(STREAM_TIMESTAMPS):
            rec[c] = (t + dt.timedelta(seconds=60 * j + rng.randrange(60))).strftime("%Y-%m-%dT%H:%M:%S")
        for c in DURATION_COLUMNS:
            rec[c] = _dirty(rng, rng.randint(0, 9000))
        for c in list(rec):
            if c != "cad_event_number" and rng.random() < STREAM_RATES["missing_field"]:
                del rec[c]
        rec["processed_at"] = (stamp + dt.timedelta(milliseconds=i)).strftime("%Y-%m-%dT%H:%M:%S.%f")
        out.append(rec)
    latest = {}
    for rec in out:
        latest[rec["cad_event_number"]] = rec
    sums = {c: sum(e8(r.get(c)) or 0 for r in latest.values()) for c in DURATION_COLUMNS}
    nonnull = {c: sum(e8(r.get(c)) is not None for r in latest.values()) for c in DURATION_COLUMNS}
    meta = {"seed": seed, "records": records, "rates": STREAM_RATES,
            "expected": {"records": records, "distinct_keys": len(latest),
                         "duplicates": records - len(latest),
                         "e8_sums": sums, "e8_nonnull": nonnull}}
    return out, meta


def write_stream(seed, records, files, out_dir):
    """The backlog as `files` JSON-lines files, in backlog order: file k
    holds records [k*n/files, (k+1)*n/files)."""
    data, meta = generate_stream(seed, records)
    src = os.path.join(out_dir, "backlog")
    os.makedirs(src, exist_ok=True)
    for k in range(files):
        lo, hi = k * records // files, (k + 1) * records // files
        with open(os.path.join(src, "part-%05d.json" % k), "w") as f:
            for rec in data[lo:hi]:
                f.write(json.dumps(rec, separators=(",", ":")) + "\n")
    meta["files"] = files
    _write_meta(out_dir, meta)
    return meta


# ---------------------------------------------------------------------------
# Query-mix tables: the TPC-H-like star schema plus events, documents and
# embeddings, in the column types the engine's query surface reads.
# ---------------------------------------------------------------------------

VOCAB = ("row the query stream fast spark line small customer group value hash batch "
         "sort data big filter dup key agg scan slow table part a merge window order "
         "column join vector").split()


def write_tables(seed, scale, out_dir):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    n = lambda base: max(1, int(base * scale))  # noqa: E731
    ts = lambda s: dt.datetime(1995, 1, 1) + dt.timedelta(days=s)  # noqa: E731
    n_cust, n_supp, n_part, n_ord = n(150000), n(10000), n(200000), n(1500000)
    tables = {
        "region": {"r_regionkey": (pa.int32(), list(range(5))),
                   "r_name": (pa.string(), ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])},
        "nation": {"n_nationkey": (pa.int32(), list(range(25))),
                   "n_name": (pa.string(), ["NATION_%d" % i for i in range(25)]),
                   "n_regionkey": (pa.int32(), [i % 5 for i in range(25)])},
        "customer": {
            "c_custkey": (pa.int64(), list(range(n_cust))),
            "c_name": (pa.string(), ["Customer#%09d" % i for i in range(n_cust)]),
            "c_nationkey": (pa.int32(), [rng.randrange(25) for _ in range(n_cust)]),
            "c_acctbal": (pa.float64(), [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)]),
            "c_mktsegment": (pa.string(), [rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                       "HOUSEHOLD", "MACHINERY"]) for _ in range(n_cust)])},
        "supplier": {
            "s_suppkey": (pa.int64(), list(range(n_supp))),
            "s_name": (pa.string(), ["Supplier#%09d" % i for i in range(n_supp)]),
            "s_nationkey": (pa.int32(), [rng.randrange(25) for _ in range(n_supp)]),
            "s_acctbal": (pa.float64(), [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)])},
        "part": {
            "p_partkey": (pa.int64(), list(range(n_part))),
            "p_name": (pa.string(), ["%s %s" % (rng.choice(["red", "blue", "small", "large", "hot", "cold",
                                                             "old", "new"]),
                                                 rng.choice(["bolt", "gear", "ring", "rod", "plate", "anvil",
                                                             "widget", "gizmo"])) for _ in range(n_part)]),
            "p_brand": (pa.string(), ["Brand#%d" % rng.randint(1, 25) for _ in range(n_part)]),
            "p_type": (pa.string(), [rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
                                     for _ in range(n_part)]),
            "p_size": (pa.int32(), [rng.randint(1, 50) for _ in range(n_part)]),
            "p_retailprice": (pa.float64(), [round(900 + (i % 1000) / 10, 2) for i in range(n_part)])},
    }
    o_cust = [rng.randrange(n_cust) for _ in range(n_ord)]
    tables["orders"] = {
        "o_orderkey": (pa.int64(), list(range(n_ord))),
        "o_custkey": (pa.int64(), o_cust),
        "o_orderstatus": (pa.string(), [rng.choice("FOP") for _ in range(n_ord)]),
        "o_totalprice": (pa.float64(), [round(rng.uniform(1000, 500000), 2) for _ in range(n_ord)]),
        "o_orderdate": (pa.timestamp("us"), [ts(rng.randrange(2405)) for _ in range(n_ord)]),
        "o_orderpriority": (pa.string(), [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                      "5-LOW"]) for _ in range(n_ord)])}
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                          "l_shipdate")}
    n_line = n(6000000)
    while len(li["l_orderkey"]) < n_line:
        o = rng.randrange(n_ord)
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(ts(1 + rng.randrange(2500)))
    types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
             "l_linenumber": pa.int32(), "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
             "l_discount": pa.float64(), "l_tax": pa.float64(), "l_returnflag": pa.string(),
             "l_linestatus": pa.string(), "l_shipdate": pa.timestamp("us")}
    tables["lineitem"] = {k: (types[k], v[:n_line]) for k, v in li.items()}
    n_ev = n(1000000)
    ev_base = dt.datetime(2024, 1, 1)
    tables["events"] = {
        "event_id": (pa.int64(), list(range(n_ev))),
        "ts": (pa.timestamp("us"), [ev_base + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
                                    for _ in range(n_ev)]),
        "user_id": (pa.int64(), [rng.randrange(max(2, n_ev // 60)) for _ in range(n_ev)]),
        "event_type": (pa.string(), [rng.choice(["click", "view", "purchase", "signup", "error"])
                                     for _ in range(n_ev)]),
        "value": (pa.float64(), [round(rng.uniform(0.01, 500), 2) for _ in range(n_ev)]),
        "props": (pa.string(), ['{"k": %d}' % rng.randrange(100) for _ in range(n_ev)])}
    tables["events"]["ts"][1].sort()
    n_doc = max(500, n(50000))
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))) for _ in range(n_doc)]
    tables["documents"] = {
        "doc_id": (pa.int64(), list(range(n_doc))),
        "text": (pa.string(), texts),
        "lang": (pa.string(), [rng.choice(["en", "en", "en", "de", "fr", "es", "zh"]) for _ in range(n_doc)]),
        "source": (pa.string(), ["src%d" % (i % 20) for i in range(n_doc)]),
        "n_chars": (pa.int64(), [len(t) for t in texts])}
    n_emb = max(500, n(20000))
    tables["embeddings"] = {
        "vec_id": (pa.int64(), list(range(n_emb))),
        "embedding": (pa.list_(pa.float32()), [[rng.gauss(0, 0.13) for _ in range(64)] for _ in range(n_emb)]),
        "label": (pa.int32(), [rng.randrange(10) for _ in range(n_emb)])}
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table({c: pa.array(v, type=ty) for c, (ty, v) in cols.items()})
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"), compression="snappy")
        rows[name] = t.num_rows
    meta = {"seed": seed, "scale": scale, "rows": rows}
    _write_meta(out_dir, meta)
    return meta


def _write_meta(out_dir, meta):
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
        f.write("\n")

