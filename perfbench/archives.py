"""Seeded Citibike trip-archive generator and its expected-output ledger.

The archives look like the `s3://tripdata` listing the pipeline reads:

* a yearly archive `YYYY-citibike-tripdata.zip` in the legacy (2013-2016)
  header generation, with several CSV members, a nested zip holding the
  second half of the year, and `__MACOSX/` / `._*` junk members;
* monthly archives `YYYYMM-citibike-tripdata.csv.zip` in the modern
  (2021+) header generation.

Every archive carries the FIXTURES.md A1 edge rows: one planted count per
quality rule, each edge row breaking exactly one rule. The ledger is
computed from the generator's own records, never from engine code: kept
trips per (year, month), per user type and per (year, month, hour).
"""

import io
import os
import zipfile

import numpy as np

LEGACY_HEADER = (
    "tripduration,starttime,stoptime,start station id,start station name,"
    "start station latitude,start station longitude,end station id,"
    "end station name,end station latitude,end station longitude,bikeid,"
    "usertype,birth year,gender")
MODERN_HEADER = (
    "ride_id,rideable_type,started_at,ended_at,start_station_name,"
    "start_station_id,end_station_name,end_station_id,start_lat,start_lng,"
    "end_lat,end_lng,member_casual")

BLACKLIST = ("8D QC Station 01", "SSP - Basement",
             "NYCBS Depot - STY - Valet Scan", "333 Johnson TEST 1",
             "8D Mobile 01", "8D OPS 01")

# One edge row breaks exactly one of the quality rules of
# `Quality.qualityFilter`, except `swapped_coords`, which the bbox repair
# fixes and the row is kept.
DROP_RULES = ("empty_start_name", "empty_start_id", "zero_start_lat",
              "zero_end_lat", "null_coords", "blacklisted_start",
              "blacklisted_end", "wrong_year")
KEEP_RULES = ("swapped_coords",)
EDGES_PER_RULE = 3

N_STATIONS = 80
ZIP_TIME = (2020, 1, 1, 0, 0, 0)
MONTH_NAMES = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
               "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

# A pipeline workload's archives and the `run` before which each one
# arrives in the watched directory (which keeps earlier ones, as the
# `s3://tripdata` listing does).
#
# The backfill: an empty warehouse and one `run` over a legacy yearly
# archive and a modern month, the paper's initial load. Each archive
# costs seconds of fixed work, so two keep a run within its budget.
BACKFILL = [
    {"kind": "yearly", "year": 2016, "trips": 12000, "arrives": 0},
    {"kind": "monthly", "year": 2021, "month": 1, "trips": 3000, "arrives": 0},
]

# The monthly cadence: the backfill of the yearly archive and the first
# month, then the next month arrives, and one last run finds nothing new.
# At the seed its last run fails the ledger check (the manifest keeps only
# the last month per year, so January is loaded again), which is why the
# benchmark does not list it; it stays runnable to show that defect.
MONTHLY = [
    {"kind": "yearly", "year": 2016, "trips": 12000, "arrives": 0},
    {"kind": "monthly", "year": 2021, "month": 1, "trips": 3000, "arrives": 0},
    {"kind": "monthly", "year": 2021, "month": 2, "trips": 3000, "arrives": 1},
]


def archive_name(spec):
    if spec["kind"] == "yearly":
        return "%d-citibike-tripdata.zip" % spec["year"]
    return "%d%02d-citibike-tripdata.csv.zip" % (spec["year"], spec["month"])


def _stations(rng):
    """(name, id, lat, lon) per station; a few names need CSV quoting."""
    lat = np.round(rng.uniform(40.66, 40.84, N_STATIONS), 6)
    lon = np.round(rng.uniform(-74.02, -73.91, N_STATIONS), 6)
    out = []
    for i in range(N_STATIONS):
        name = "W %d St & %d Ave" % (10 + i, 1 + i % 11)
        if i % 9 == 0:
            name = '"Broadway, W %d St"' % (10 + i)
        out.append((name, str(3000 + i), repr(float(lat[i])),
                    repr(float(lon[i]))))
    return out


class _Clock:
    """String tables so rows are assembled by lookup, not by formatting."""

    def __init__(self):
        self.hms = ["%02d:%02d:%02d" % (s // 3600, s // 60 % 60, s % 60)
                    for s in range(86400)]

    def day(self, legacy, y, m, d):
        return ("%02d/%02d/%d " % (m, d, y)) if legacy else \
            ("%d-%02d-%02d " % (y, m, d))


def _trips(rng, spec, n):
    """Normal trips as column arrays; months follow the archive kind."""
    months = (rng.integers(1, 13, n) if spec["kind"] == "yearly"
              else np.full(n, spec["month"]))
    return {
        "month": months,
        "day": rng.integers(1, 29, n),
        "sec": rng.integers(0, 86400 - 3600, n),
        "dur": rng.integers(60, 3600, n),
        "start": rng.integers(0, N_STATIONS, n),
        # ~5% round trips (dropped by the trips builder, kept elsewhere)
        "end": np.where(rng.random(n) < 0.05, -1,
                        rng.integers(0, N_STATIONS, n)),
        "member": rng.random(n) < 0.8,
        "electric": rng.random(n) < 0.3,
    }


def _rows(spec, clock, stations, t, edges):
    """CSV lines of one archive's normal trips plus its edge rows, in
    canonical field terms mapped to the archive's header generation.

    Returns (lines, kept records) where a kept record is
    (year, month, hour, user_type)."""
    legacy = spec["kind"] == "yearly"
    year = spec["year"]
    lines, kept = [], []
    n = len(t["month"])
    for i in range(n + len(edges)):
        rule = edges[i - n] if i >= n else None
        j = i % n
        m, d, sec, dur = int(t["month"][j]), int(t["day"][j]), \
            int(t["sec"][j]), int(t["dur"][j])
        s = stations[t["start"][j]]
        e = s if t["end"][j] < 0 else stations[t["end"][j]]
        y = year - 1 if rule == "wrong_year" else year
        if rule == "wrong_year":
            m, d = 12, 28
        t_start = clock.day(legacy, y, m, d) + clock.hms[sec]
        t_stop = clock.day(legacy, y, m, d) + clock.hms[sec + dur]
        s_name, s_id, s_lat, s_lon = s
        e_name, e_id, e_lat, e_lon = e
        if rule == "empty_start_name":
            s_name = ""
        elif rule == "empty_start_id":
            s_id = ""
        elif rule == "blacklisted_start":
            s_name = BLACKLIST[i % len(BLACKLIST)]
        elif rule == "blacklisted_end":
            e_name = BLACKLIST[i % len(BLACKLIST)]
        elif rule == "zero_end_lat":
            e_lat = "0"
        # The modern header's start_lng/start_lat are renamed to the
        # canonical start latitude/longitude (swapped), so the rules on
        # the canonical start latitude/longitude hit the other raw field.
        lat_field, lon_field = ("lat", "lon") if legacy else ("lon", "lat")
        start = {"lat": s_lat, "lon": s_lon}
        if rule == "zero_start_lat":
            start[lat_field] = "0"
        elif rule == "null_coords":
            start[lon_field] = ""
        elif rule == "swapped_coords":
            start["lat"], start["lon"] = start["lon"], start["lat"]
        member = bool(t["member"][j])
        if legacy:
            user = "Subscriber" if member else "Customer"
            lines.append(",".join((
                str(dur), t_start, t_stop, s_id, s_name, start["lat"],
                start["lon"], e_id, e_name, e_lat, e_lon,
                str(14000 + j % 5000), user, str(1950 + j % 50),
                str(j % 3))))
        else:
            user = "member" if member else "casual"
            ride = "electric_bike" if t["electric"][j] else "classic_bike"
            lines.append(",".join((
                "%016X" % (i * 2654435761 % (1 << 64)), ride, t_start,
                t_stop, s_name, s_id, e_name, e_id, start["lat"],
                start["lon"], e_lat, e_lon, user)))
        if rule is None or rule in KEEP_RULES:
            kept.append((y, m, sec // 3600,
                         "subscriber" if member else "customer"))
    return lines, kept


def _zip(entries):
    """Deterministic zip bytes from [(name, bytes)]; fixed timestamps."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in entries:
            info = zipfile.ZipInfo(name, date_time=ZIP_TIME)
            info.external_attr = 0o644 << 16
            if name.endswith("/"):
                info.external_attr = 0o755 << 16 | 0x10
                z.writestr(info, b"")
            else:
                z.writestr(info, data, compress_type=zipfile.ZIP_DEFLATED,
                           compresslevel=1)
    return buf.getvalue()


def _csv(header, lines):
    return (header + "\n" + "\n".join(lines) + "\n").encode("utf-8")


def _archive_bytes(spec, lines):
    if spec["kind"] == "monthly":
        inner = "%d%02d-citibike-tripdata.csv" % (spec["year"], spec["month"])
        return _zip([(inner, _csv(MODERN_HEADER, lines))])
    year = spec["year"]
    top = "%d-citibike-tripdata/" % year
    # four direct CSV members + a nested zip of two more; member
    # boundaries do not follow months (the reference splits by size)
    k = len(lines)
    cuts = [0, k // 6, 2 * k // 6, 3 * k // 6, 4 * k // 6, 5 * k // 6, k]
    parts = [_csv(LEGACY_HEADER, lines[a:b])
             for a, b in zip(cuts, cuts[1:])]
    nested = _zip([("%d_part5.csv" % year, parts[4]),
                   ("%d_part6.csv" % year, parts[5])])
    junk = bytes(range(256)) * 4  # would break the CSV parser if read
    return _zip([
        (top, b""),
        (top + "%d_part1.csv" % year, parts[0]),
        (top + "%d_part2.csv" % year, parts[1]),
        ("__MACOSX/" + top + "._%d_part1.csv" % year, junk),
        (top + "%d_part3.csv" % year, parts[2]),
        (top + "._%d_part2.csv" % year, junk),
        (top + "%d_part4.csv" % year, parts[3]),
        (top + "%d_part5-6.zip" % year, nested),
        (top + "README.txt", b"not a trip file\n"),
    ])


def generate(out_dir, seed, specs):
    """Write every archive of `specs` into `out_dir`; returns the ledger."""
    os.makedirs(out_dir, exist_ok=True)
    clock = _Clock()
    ledger = {"seed": seed, "archives": []}
    for idx, spec in enumerate(specs):
        rng = np.random.default_rng([seed, idx])
        stations = _stations(np.random.default_rng([seed, 1 << 20]))
        edges = [r for r in DROP_RULES + KEEP_RULES
                 for _ in range(EDGES_PER_RULE)]
        lines, kept = _rows(spec, clock, stations,
                            _trips(rng, spec, spec["trips"]), edges)
        name = archive_name(spec)
        data = _archive_bytes(spec, lines)
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        ledger["archives"].append({
            "name": name, "year": spec["year"], "month": spec.get("month"),
            "arrives": spec["arrives"], "rows": len(lines), "bytes": len(data),
            "planted": {r: EDGES_PER_RULE for r in DROP_RULES + KEEP_RULES},
            "expected": expected(kept),
        })
    return ledger


def expected(kept):
    """Ledger counts of kept trip records (year, month, hour, user_type):
    per (year, month) the kept trips and LineGraph counts, and per
    (year, month, hour) the HeatMap counts. Keys are "yyyy-MMM"."""
    periods, hours = {}, {}
    for y, m, h, user in kept:
        key = "%d-%s" % (y, MONTH_NAMES[m - 1])
        p = periods.setdefault(key, {"trips": 0, "subscriber": 0,
                                     "customer": 0})
        p["trips"] += 1
        p[user] += 1
        hk = "%s-%02d" % (key, h)
        hours[hk] = hours.get(hk, 0) + 1
    return {"periods": dict(sorted(periods.items())),
            "hours": dict(sorted(hours.items()))}

