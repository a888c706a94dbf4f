"""Seeded synthetic hotel-weather data in the reference dataset's shape.

Facts (BASELINE.md, measured on the reference dataset): Hive layout
`year=/month=/day=`, 92 day-partitions over 2016-10, 2017-08 and
2017-09, 9-11 parquet files per day, 34-644 rows per day, 13,330 rows,
4,324 (city, wthr_date) groups, 767 cities, 2,331 hotel ids that are
unique within a group, 795 geohashes, 7 countries, and the golden
top-10 of distinct hotels on a city's best day (Paris 453 exact / 444
estimated, London 243, Barcelona 211, Milan 165, Amsterdam 87,
Paddington 19, then 6, 6, 5, 5).

Model. The reference rows are hotels joined to the weather of their
city's dates, so a (city, date) group holds all of the city's hotels:
the golden top-10 are then the city sizes, and the rows and groups give
the days a city appears on (13,330 / 2,331 ~ 4,324 / 767 ~ 5.6). The
top-10 cities get the golden sizes; the other 757 share the remaining
1,131 hotels, 1-4 each (below the 10th place, so the top-10 is the
golden one). Each city appears on 1 + Poisson(4.64) days, placed from
the largest city down on days that stay within 644 rows. A draw whose
groups, rows or rows per day leave the tolerances below is redrawn
from the same seeded stream, so every seed gives the measured shape.

Temperatures are whole quarter degrees, so every partial sum that
`avg` keeps in streaming state is exact in binary floating point: the
final sink is then bit-equal to the batch aggregate over the same files
whatever the micro-batch split (and HLL register merge is order-free).
"""
import datetime
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CITIES = 767
N_HOTELS = 2331
N_GEOHASH = 795
COUNTRIES = ["AT", "ES", "FR", "GB", "IT", "NL", "US"]
MONTHS = [(2016, 10, 31), (2017, 8, 31), (2017, 9, 30)]
ROWS_MIN, ROWS_MAX = 34, 644
FILES_MIN, FILES_MAX = 9, 11
TOP_CITY_HOTELS = [453, 243, 211, 165, 87, 19, 6, 6, 5, 5]
TAIL_MAX_HOTELS = 4
GROUPS, ROWS = 4324, 13330
# accepted distance of a draw from the reference's groups and rows
GROUPS_TOL, ROWS_TOL = 0.05, 0.10

SCHEMA = pa.schema([
    ("address", pa.string()), ("avg_tmpr_c", pa.float64()),
    ("avg_tmpr_f", pa.float64()), ("city", pa.string()),
    ("country", pa.string()), ("geoHash", pa.string()),
    ("id", pa.string()), ("latitude", pa.float64()),
    ("longitude", pa.float64()), ("name", pa.string()),
    ("wthr_date", pa.string()),
])

_GEO_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def days():
    """The 92 (year, month, day) partitions in date order."""
    return [(y, m, d) for y, m, n in MONTHS for d in range(1, n + 1)]


def day_dir(y, m, d):
    return f"year={y}/month={m}/day={d}"


def _city_sizes(rng):
    """Hotels per city, largest first: the golden top-10, then 757
    cities of 1-4 hotels that together hold the rest."""
    n_tail = N_CITIES - len(TOP_CITY_HOTELS)
    left = N_HOTELS - sum(TOP_CITY_HOTELS)
    tail = np.ones(n_tail, dtype=int)
    while tail.sum() < left:
        room = np.flatnonzero(tail < TAIL_MAX_HOTELS)
        tail[rng.choice(room)] += 1
    return np.concatenate([TOP_CITY_HOTELS, np.sort(tail)[::-1]])


def _hotels(rng, sizes):
    city_of = np.repeat(np.arange(N_CITIES), sizes)
    geo_codes = ["".join(rng.choice(list(_GEO_ALPHABET), 4))
                 for _ in range(N_GEOHASH)]
    # each city owns geohash `city`; the 28 largest cities also own
    # geohash N_CITIES + city, and their hotels pick one of the two
    geo_of = city_of.copy()
    big = city_of < N_GEOHASH - N_CITIES
    geo_of[big] += N_CITIES * (rng.random(big.sum()) < 0.5)
    return {
        "city": city_of,
        "country": rng.integers(0, len(COUNTRIES), N_CITIES)[city_of],
        "geo": [geo_codes[g] for g in geo_of],
        "lat": np.round(rng.uniform(25.0, 60.0, N_HOTELS), 6),
        "lon": np.round(rng.uniform(-120.0, 20.0, N_HOTELS), 6),
        # mean climate per hotel, in quarter degrees
        "base_q": rng.integers(-20 * 4, 30 * 4, N_HOTELS),
    }


def _calendar(rng, sizes, n_days):
    """Days each city appears on, as a list of city ids per day."""
    mean_days = GROUPS / N_CITIES
    for _ in range(100):
        load = np.zeros(n_days, dtype=int)
        on_day = [[] for _ in range(n_days)]
        for c in range(N_CITIES):
            k = 1 + rng.poisson(mean_days - 1)
            free = np.flatnonzero(load + sizes[c] <= ROWS_MAX)
            for d in rng.choice(free, min(k, len(free)), replace=False):
                load[d] += sizes[c]
                on_day[d].append(c)
        groups = sum(len(x) for x in on_day)
        if (abs(groups - GROUPS) <= GROUPS_TOL * GROUPS
                and abs(load.sum() - ROWS) <= ROWS_TOL * ROWS
                and load.min() >= ROWS_MIN):
            return on_day
    raise RuntimeError("no calendar within the reference's shape")


def shape(day_facts):
    """Groups, rows, rows-per-day range and the top-10 best-day sizes of
    generated data, to set against the reference's."""
    best = {}
    for d in day_facts:
        for c, n in d["city_hotels"].items():
            best[c] = max(best.get(c, 0), n)
    rows = [d["rows"] for d in day_facts]
    return {"groups": sum(len(d["city_hotels"]) for d in day_facts),
            "rows": sum(rows), "rows_min": min(rows), "rows_max": max(rows),
            "top10": sorted(best.values(), reverse=True)[:10]}


def generate(root, seed):
    """Write all 92 day-partitions under `root`; return per-day facts
    [{"dir", "rows", "files", "city_hotels"}] in date order."""
    rng = np.random.default_rng(seed)
    sizes = _city_sizes(rng)
    h = _hotels(rng, sizes)
    hotels_of = np.split(np.arange(N_HOTELS), np.cumsum(sizes)[:-1])
    calendar = _calendar(rng, sizes, len(days()))
    out = []
    for (y, m, d), cities in zip(days(), calendar):
        ids = np.concatenate([hotels_of[c] for c in cities])
        rng.shuffle(ids)
        n = len(ids)
        temp_q = h["base_q"][ids] + rng.integers(-16, 17, n)
        temp_c = temp_q / 4.0
        date = datetime.date(y, m, d).isoformat()
        table = pa.table({
            "address": [f"Hotel {i:04d}" for i in ids],
            "avg_tmpr_c": temp_c,
            "avg_tmpr_f": np.round(temp_c * 9 / 5 + 32, 1),
            "city": [f"City {h['city'][i]:03d}" for i in ids],
            "country": [COUNTRIES[h["country"][i]] for i in ids],
            "geoHash": [h["geo"][i] for i in ids],
            "id": [str(1000000 + i) for i in ids],
            "latitude": h["lat"][ids], "longitude": h["lon"][ids],
            "name": [f"{i % 97 + 1} Street {i:04d}" for i in ids],
            "wthr_date": [date] * n,
        }, schema=SCHEMA)
        n_files = int(rng.integers(FILES_MIN, FILES_MAX + 1))
        cuts = np.sort(rng.choice(np.arange(1, n), n_files - 1, replace=False))
        bounds = [0, *cuts.tolist(), n]
        path = os.path.join(root, day_dir(y, m, d))
        os.makedirs(path)
        tag = uuid.UUID(int=int(rng.integers(0, 2**63))).hex
        for k in range(n_files):
            pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                           os.path.join(path, f"part-{k:05d}-{tag}.c000.snappy.parquet"),
                           compression="snappy")
        out.append({"dir": day_dir(y, m, d), "rows": n, "files": n_files,
                    "city_hotels": {int(c): int(sizes[c]) for c in cities}})
    facts = shape(out)
    if facts["top10"] != TOP_CITY_HOTELS:
        raise RuntimeError(f"generated top-10 {facts['top10']} is not the golden one")
    return out
