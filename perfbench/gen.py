"""Seeded input generators for the benchmark workloads.

``write_reference_csvs`` writes the three raw inputs of the star-schema
pipeline in the reference's shapes: BTS on-time flights with the
``schemas.FLIGHTS_RAW`` columns, airports as ``"City, ST: Name"`` and
carriers as ``"Name: XX"``. Every generated row passes every rule in
``operators/validation.py``, and the canonical flight order
(``operators.dims.flight_canonical_order``) is total, so surrogate keys
do not depend on partitioning. The new day sorts after every base day,
so an incremental re-run adds exactly that day's rows to the fact.

``txlog_windows`` draws the key windows of the DML cycle.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
from dataclasses import dataclass

from aiports_data_warehouse_etl_spark import schemas

N_AIRPORTS = 6_500
N_CARRIERS = 1_600
N_ACTIVE_CARRIERS = 20
N_HUBS = 300

#: Rows per op of the txlog DML cycle.
APPEND_ROWS = 10_000
MERGE_KEYS = 5_000
DML_ROWS = 1_000

_ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_STATES = ["AK", "AL", "AZ", "CA", "CO", "FL", "GA", "HI", "IL", "MA", "MI",
           "MN", "NC", "NY", "OH", "OR", "PA", "TX", "UT", "VA", "WA", "WI"]
_COUNTRIES = ["Canada", "Mexico", "Brazil", "Germany", "Japan", "Kenya"]
_KINDS = ["International", "Regional", "Municipal", "County", "Field"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ro", "sa", "ta", "vi", "do", "ber",
              "ton", "ville", "ford", "dale", "port", "wood"]


@dataclass(frozen=True)
class EtlInputs:
    """Paths of the generated CSVs and the row counts the pipeline must
    reproduce (cold build on ``flights_base``, incremental re-run on
    ``flights_incremental``)."""

    airports_csv: str
    carriers_csv: str
    flights_base: str
    flights_incremental: str
    flights_csv_bytes: int
    new_day_csv_bytes: int
    base_rows: int
    new_rows: int
    cold_counts: dict
    incremental_counts: dict


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))).title()


def _hhmm(minute_of_day: int) -> int:
    m = minute_of_day % 1440
    return (m // 60) * 100 + m % 60


def _flight(rng, day, fl_num, carriers, hubs) -> tuple[list, tuple, tuple]:
    """One BTS-shaped row, plus its (cancelled, code) pair and its
    derived delay tuple as the pipeline computes them."""
    carrier = rng.choice(carriers)
    o, d = rng.sample(hubs, 2)
    crs_dep = rng.randint(5 * 60, 23 * 60 + 30)
    crs_elapsed = rng.randint(45, 360)
    cancelled = rng.random() < 0.015
    if cancelled:
        code = rng.choice("ABCD")
        dep_time = dep_delay = arr_time = arr_delay = actual = ""
        dep_new = arr_new = 0.0
        causes = [""] * 5
        delay_key = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    else:
        code = ""
        dep_delay = rng.choice([-6, -4, -2, 0, 0, 3, 8]) + (
            rng.randint(0, 180) if rng.random() < 0.15 else 0
        )
        actual = crs_elapsed + rng.randint(-15, 25)
        arr_delay = dep_delay + actual - crs_elapsed
        dep_time = _hhmm(crs_dep + dep_delay)
        arr_time = _hhmm(crs_dep + crs_elapsed + arr_delay)
        dep_new, arr_new = float(max(dep_delay, 0)), float(max(arr_delay, 0))
        if arr_delay >= 15:
            cuts = sorted(rng.randint(0, arr_delay) for _ in range(4))
            parts = [b - a for a, b in zip([0] + cuts, cuts + [arr_delay])]
            causes = [f"{p:.2f}" for p in parts]
            delay_key = tuple(float(p) for p in parts) + (float(actual - crs_elapsed),)
        else:
            causes = [""] * 5
            delay_key = (0.0, 0.0, 0.0, 0.0, 0.0, float(actual - crs_elapsed))
        dep_time, arr_time = f"{dep_time:.2f}", f"{arr_time:.2f}"
        dep_delay, arr_delay = f"{dep_delay:.2f}", f"{arr_delay:.2f}"
        actual = f"{actual:.2f}"
    oi, di = hubs.index(o), hubs.index(d)
    row = [
        day, carrier, f"N{rng.randint(100, 999)}{rng.choice(_ALNUM[:26])}{rng.choice(_ALNUM[:26])}",
        fl_num, 10_000 + oi, (10_000 + oi) * 100 + 1, 30_000 + oi, o,
        10_000 + di, (10_000 + di) * 100 + 1, 30_000 + di, d,
        _hhmm(crs_dep), dep_time, dep_delay, f"{dep_new:.2f}",
        arr_time, arr_delay, f"{arr_new:.2f}",
        "1.00" if cancelled else "0.00", code,
        f"{crs_elapsed:.2f}", actual, *causes, "",
    ]
    return row, (1.0 if cancelled else 0.0, code or None), delay_key


def write_reference_csvs(
    root: str, seed: int, flight_rows: int, base_days: int
) -> EtlInputs:
    """Write airports, carriers and flights CSVs under ``root``.

    ``flight_rows`` rows spread evenly over ``base_days`` base days plus
    one new day; the new day is written to its own file, present only
    in ``flights_incremental``.
    """
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)

    codes = sorted(
        "".join(_ALNUM[(n // 36 ** i) % 36] for i in (2, 1, 0))
        for n in rng.sample(range(36 ** 3), N_AIRPORTS)
    )
    airports_csv = os.path.join(root, "airports.csv")
    with open(airports_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow([f.name for f in schemas.AIRPORTS_RAW.fields])
        for code in codes:
            city = _word(rng)
            region = rng.choice(_COUNTRIES) if rng.random() < 0.15 else rng.choice(_STATES)
            w.writerow([code, f"{city}, {region}: {city} {rng.choice(_KINDS)}"])

    carrier_ids = sorted(rng.sample(range(19_000, 23_000), N_CARRIERS))
    carriers_csv = os.path.join(root, "carriers.csv")
    with open(carriers_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow([f.name for f in schemas.AIR_CARRIERS_RAW.fields])
        for cid in carrier_ids:
            name = f"{_word(rng)} Air Lines"
            if rng.random() < 0.3:
                name += ", Inc."
            w.writerow([cid, f"{name}: {rng.choice(_ALNUM)}{rng.choice(_ALNUM)}"])

    active = rng.sample(carrier_ids, N_ACTIVE_CARRIERS)
    hubs = rng.sample(codes, N_HUBS)
    start = dt.date(2018, 1, 1) + dt.timedelta(days=rng.randint(0, 300))
    per_day = flight_rows // (base_days + 1)
    header = [f.name for f in schemas.FLIGHTS_RAW.fields]

    base_dir = os.path.join(root, "flights_base")
    inc_dir = os.path.join(root, "flights_incremental")
    os.makedirs(base_dir)
    os.makedirs(inc_dir)
    cancel_base: set = set()
    delays_base: set = set()
    cancel_all: set = set()
    delays_all: set = set()

    def write_days(path, days, cancel, delays):
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(header)
            for day in days:
                for i in range(per_day):
                    row, cpair, dkey = _flight(rng, day, i + 1, active, hubs)
                    cancel.add(cpair)
                    delays.add(dkey)
                    w.writerow(row)

    days = [(start + dt.timedelta(days=i)).isoformat() for i in range(base_days + 1)]
    base_csv = os.path.join(base_dir, "flights_base.csv")
    write_days(base_csv, days[:-1], cancel_base, delays_base)
    new_csv = os.path.join(inc_dir, "flights_new_day.csv")
    cancel_all |= cancel_base
    delays_all |= delays_base
    write_days(new_csv, days[-1:], cancel_all, delays_all)
    os.link(base_csv, os.path.join(inc_dir, "flights_base.csv"))

    base_rows, new_rows = per_day * base_days, per_day
    fixed = {"dim_airports": N_AIRPORTS, "dim_air_carriers": N_CARRIERS, "dim_time": 1440}
    return EtlInputs(
        airports_csv=airports_csv,
        carriers_csv=carriers_csv,
        flights_base=base_dir,
        flights_incremental=inc_dir,
        flights_csv_bytes=os.path.getsize(base_csv),
        new_day_csv_bytes=os.path.getsize(new_csv),
        base_rows=base_rows,
        new_rows=new_rows,
        cold_counts={
            **fixed,
            "dim_date": base_days,
            "dim_cancelations": len(cancel_base),
            "dim_delays": len(delays_base),
            "fact_flights": base_rows,
        },
        incremental_counts={
            **fixed,
            "dim_date": base_days + 1,
            "dim_cancelations": len(cancel_all),
            "dim_delays": len(delays_all),
            "fact_flights": base_rows + new_rows,
        },
    )


def txlog_windows(seed: int, cycles: int, n_files: int, file_rows: int, read_span: int):
    """Key windows of each DML cycle. Merge, delete and update each hit a
    base file no earlier op of the run has touched (a seeded permutation
    of all files but the last, which holds the view's sentinel bounds),
    at a seeded offset inside it. The read covers the cycle's delete
    window inside the same file, so every read opens one file that
    carries a deletion vector. Every seed thus runs the same op sequence
    on the same table shape."""
    rng = random.Random(seed ^ 0x5EED)
    if 3 * cycles > n_files - 1:
        raise ValueError(f"{cycles} cycles need {3 * cycles} base files, have {n_files - 1}")
    files = rng.sample(range(n_files - 1), 3 * cycles)
    out = []
    for c in range(cycles):
        fm, fd, fu = files[3 * c: 3 * c + 3]
        d = fd * file_rows + rng.randrange(file_rows - DML_ROWS)
        lo = max(fd * file_rows, d + DML_ROWS - read_span)
        hi = min(d, (fd + 1) * file_rows - read_span)
        out.append({
            "merge": fm * file_rows + rng.randrange(file_rows - MERGE_KEYS),
            "delete": d,
            "update": fu * file_rows + rng.randrange(file_rows - DML_ROWS),
            "read": rng.randint(lo, hi),
        })
    return out

