"""Seeded input generators for the benchmark.

``write_tables`` writes the ten parquet tables the query corpus reads
(TESTDATA.md shapes, FIXTURES.md §4).  Row counts follow the scale rule of
the repository's sf tables (lineitem = 6 M x sf), and every column follows
their value domains, so the registered queries and their DuckDB oracles
see the shapes they are written against.

``ingest_generations`` makes the breadcrumb JSON that ``stream_ingest``
lands (FIXTURES.md §1): ~2% corrupt rows, ~3% NULL GPS pairs, repeated
odometer and time values, and late pings for trips of earlier generations.
It also returns the counts a correct landing must produce.
"""

from __future__ import annotations

import json
import os
from datetime import date, timedelta

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _pick(rng: np.random.Generator, values, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n) * np.timedelta64(86_400_000_000, "us")


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_user = int(50_000 * sf), min(int(50_000 * sf), 2000), int(15_000 * sf)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, ADJ, n_part) + " " + _pick(rng, NOUN, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    })
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = list(_pick(rng, WORDS, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the tables as ``<out_dir>/<table>.parquet``; the directory is
    written under a temporary name and renamed, so a reader never sees a
    partial table set."""
    import shutil

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in make_tables(sf, seed).items():
        df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
    os.rename(tmp, out_dir)


# --- breadcrumb ingest (FIXTURES.md §1) -------------------------------------

BASE_DATE = date(2023, 1, 9)  # a Monday; 14 days cover every day of week


def _opd(day: date) -> str:
    return day.strftime("%d%b%Y").upper() + ":00:00:00"


def _corrupt(rng: np.random.Generator, base: dict, k: int) -> dict:
    """One row violating exactly one P16 rule, alone in its own trip so its
    bad odometer or clock never reaches a valid trip's speed window."""
    kind = k % 8
    rec = dict(base)
    if kind == 0:
        rec["VEHICLE_ID"] = -int(rng.integers(1, 9))
    elif kind == 1:
        rec["GPS_LATITUDE"] = 95.0
    elif kind == 2:
        rec["GPS_LONGITUDE"] = -200.0
    elif kind == 3:
        rec["EVENT_NO_TRIP"] = -int(rng.integers(1, 1_000_000))
    elif kind == 4:
        rec["METERS"] = -10
    elif kind == 5:
        rec["ACT_TIME"] = 86_400 + int(rng.integers(0, 3600))
    elif kind == 6:
        rec["ACT_TIME"] = -5
    else:
        rec["OPD_DATE"] = "NOTADATE:00:00:00"
    return rec


def ingest_generations(
    seed: int, generations: int, trips_per_gen: int, pings: int, files_per_gen: int = 4
) -> list[dict]:
    """Breadcrumb records for ``generations`` successive landings.

    Returns one dict per generation: ``files`` (file name -> JSON lines),
    ``rows`` / ``bytes`` (input size), ``valid`` / ``quarantined`` (rows a
    correct landing keeps / rejects), ``trips`` (the cumulative set of trip
    ids with at least one valid row) and ``valid_per_trip`` (cumulative
    valid rows of each of those trips)."""
    rng = np.random.default_rng(seed)
    out: list[dict] = []
    trips: dict[int, tuple[int, date, int, int]] = {}  # id -> vehicle, day, last act, last meters
    landed: set[int] = set()
    valid_per_trip: dict[int, int] = {}
    next_trip = 238_000_000 + int(rng.integers(0, 1_000_000)) * 100
    for g in range(generations):
        rows: list[dict] = []
        fresh = []
        for _ in range(trips_per_gen):
            next_trip += 1
            fresh.append(next_trip)
            trips[next_trip] = (
                3000 + int(rng.integers(0, 10)),
                BASE_DATE + timedelta(days=int(rng.integers(0, 14))),
                6 * 3600 + int(rng.integers(0, 14 * 3600)),
                0,
            )
        late = sorted(landed)[: max(1, trips_per_gen // 10)] if landed else []
        for trip in fresh + late:
            vehicle, day, act, meters = trips[trip]
            n = pings if trip in fresh else max(2, pings // 10)
            for p in range(n):
                meters += int(rng.integers(0, 40))  # includes repeated odometer values
                act += 0 if p % 37 == 7 else 5  # includes repeated clock values
                lat, lon = 45.5 + float(rng.uniform(-0.1, 0.1)), -122.5 + float(rng.uniform(-0.2, 0.2))
                if rng.random() < 0.03:
                    lat = lon = None
                rows.append({
                    "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": trip + 100, "OPD_DATE": _opd(day),
                    "VEHICLE_ID": vehicle, "METERS": meters, "ACT_TIME": min(act, 86_399),
                    "GPS_LONGITUDE": lon, "GPS_LATITUDE": lat,
                    "GPS_SATELLITES": int(rng.integers(0, 13)),
                    "GPS_HDOP": round(float(rng.uniform(0.5, 2.5)), 2),
                })
            trips[trip] = (vehicle, day, act, meters)
            valid_per_trip[trip] = valid_per_trip.get(trip, 0) + n
        n_valid = len(rows)
        n_bad = max(1, round(n_valid * 0.02))
        for k in range(n_bad):
            next_trip += 1
            base = dict(rows[int(rng.integers(0, n_valid))], EVENT_NO_TRIP=next_trip)
            rows.append(_corrupt(rng, base, k))
        order = rng.permutation(len(rows))
        files: dict[str, str] = {}
        per = -(-len(rows) // files_per_gen)
        for f in range(files_per_gen):
            chunk = [rows[i] for i in order[f * per : (f + 1) * per]]
            files[f"bus_g{g}_{f}.json"] = "".join(json.dumps(r) + "\n" for r in chunk)
        landed.update(fresh)
        out.append({
            "files": files, "rows": len(rows), "bytes": sum(len(v) for v in files.values()),
            "valid": n_valid, "quarantined": n_bad, "trips": set(landed),
            "valid_per_trip": dict(valid_per_trip),
        })
    return out


def stop_events(trip_ids: list[int], seed: int) -> tuple[pd.DataFrame, dict[int, int]]:
    """A validated stop-events table for the read-back join: 0-3 events for
    each trip.  Returns the frame (STOP_EVENT_COLUMNS, all strings) and the
    per-trip event count."""
    from trimet_bytes__data_engineering_project_spark.schemas import STOP_EVENT_COLUMNS

    rng = np.random.default_rng(seed)
    recs, per_trip = [], {}
    for trip in trip_ids:
        k = int(rng.integers(0, 4))
        per_trip[trip] = k
        for _ in range(k):
            arrive = int(rng.integers(6 * 3600, 20 * 3600))
            rec = {c: "" for c in STOP_EVENT_COLUMNS}
            rec.update(
                vehicle_number=str(3000 + int(rng.integers(0, 10))), trip_number=str(trip),
                route_number=str(int(rng.integers(1, 100))), direction=str(int(rng.integers(0, 2))),
                service_key=str(rng.choice(["W", "S", "U"])), arrive_time=str(arrive),
                stop_time=str(arrive + 10), leave_time=str(arrive + 30), dwell="20",
                ons=str(int(rng.integers(0, 10))), offs=str(int(rng.integers(0, 10))),
            )
            recs.append(rec)
    return pd.DataFrame(recs, columns=list(STOP_EVENT_COLUMNS)), per_trip
