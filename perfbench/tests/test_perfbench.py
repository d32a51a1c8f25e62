"""Tests of the benchmark's own parts: the seeded generators, the ledger
and the metric catalog.

    python3 -m unittest discover -s perfbench/tests
"""

import csv
import io
import json
import os
import re
import sys
import tempfile
import unittest
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import archives  # noqa: E402
import metrics  # noqa: E402
import tables  # noqa: E402

TINY = [
    {"kind": "yearly", "year": 2016, "trips": 6, "arrives": 0},
    {"kind": "monthly", "year": 2021, "month": 2, "trips": 4, "arrives": 0},
]


def read_dir(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def csv_members(data, depth=0):
    """CSV members of an archive as the pipeline's ingest sees them:
    junk skipped, one level of nested zips followed."""
    out = []
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        for name in z.namelist():
            base = name.rsplit("/", 1)[-1]
            if name.startswith("__MACOSX/") or base.startswith("._") \
                    or name.endswith("/"):
                continue
            if name.endswith(".csv"):
                out.append(z.read(name).decode())
            elif name.endswith(".zip") and depth == 0:
                out += csv_members(z.read(name), 1)
    return out


def kept_rows(data, year):
    """Trips the quality rules keep, recounted from the raw CSV with the
    FIXTURES.md A1 rules: (year, month, hour, user type) per row."""
    rows = []
    for member in csv_members(data):
        for r in csv.DictReader(io.StringIO(member)):
            legacy = "starttime" in r
            start = r["starttime"] if legacy else r["started_at"]
            names = (r["start station name"], r["end station name"]) \
                if legacy else (r["start_station_name"], r["end_station_name"])
            sid = r["start station id"] if legacy else r["start_station_id"]
            coords = [r[k] for k in (
                ("start station latitude", "start station longitude",
                 "end station latitude", "end station longitude") if legacy
                else ("start_lng", "start_lat", "end_lat", "end_lng"))]
            if (not names[0] or not sid or "" in coords
                    or float(coords[0]) == 0 or float(coords[2]) == 0
                    or any(n in archives.BLACKLIST for n in names)):
                continue
            if legacy:
                m, rest = int(start[:2]), start[6:]
                y, h = int(rest[:4]), int(rest[5:7])
            else:
                y, m, h = int(start[:4]), int(start[5:7]), int(start[11:13])
            if y != year:
                continue
            user = (r["usertype"] if legacy else r["member_casual"]).lower()
            user = {"member": "subscriber", "casual": "customer"}.get(user, user)
            rows.append((y, m, h, user))
    return rows


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            la = archives.generate(a, 7, archives.BACKFILL)
            lb = archives.generate(b, 7, archives.BACKFILL)
            archives.generate(c, 8, archives.BACKFILL)
            self.assertEqual(read_dir(a), read_dir(b))
            self.assertEqual(json.dumps(la, sort_keys=True),
                             json.dumps(lb, sort_keys=True))
            self.assertNotEqual(read_dir(a), read_dir(c))

    def test_query_tables_are_fixed(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            tables.generate(a, 0.001)
            tables.generate(b, 0.001)
            self.assertEqual(read_dir(a), read_dir(b))
            self.assertEqual(sorted(read_dir(a)), [
                "documents.parquet", "embeddings.parquet", "events.parquet",
                "lineitem.parquet"])

    def test_ledger_matches_hand_count(self):
        with tempfile.TemporaryDirectory() as d:
            ledger = archives.generate(d, 3, TINY)
            by_name = {a["name"]: a for a in ledger["archives"]}
            rules = len(archives.DROP_RULES) + len(archives.KEEP_RULES)
            # 4 trips + 3 edge rows per rule; of the edge rows only the 3
            # with swapped coordinates are kept
            month = by_name["202102-citibike-tripdata.csv.zip"]
            self.assertEqual(month["rows"], 4 + 3 * rules)
            self.assertEqual(month["expected"]["periods"]["2021-Feb"]["trips"], 7)
            self.assertEqual(month["planted"]["wrong_year"], 3)
            year = by_name["2016-citibike-tripdata.zip"]
            self.assertEqual(year["rows"], 6 + 3 * rules)
            self.assertEqual(sum(p["trips"] for p in
                                 year["expected"]["periods"].values()), 9)

    def test_ledger_matches_recount_of_raw_rows(self):
        with tempfile.TemporaryDirectory() as d:
            ledger = archives.generate(d, 11, TINY + [
                {"kind": "monthly", "year": 2021, "month": 3, "trips": 500,
                 "arrives": 1}])
            for a in ledger["archives"]:
                with open(os.path.join(d, a["name"]), "rb") as f:
                    kept = kept_rows(f.read(), a["year"])
                self.assertEqual(archives.expected(kept), a["expected"])

    def test_yearly_archive_layout(self):
        with tempfile.TemporaryDirectory() as d:
            archives.generate(d, 5, TINY[:1])
            with zipfile.ZipFile(os.path.join(
                    d, "2016-citibike-tripdata.zip")) as z:
                names = z.namelist()
            self.assertTrue(any(n.startswith("__MACOSX/") for n in names))
            self.assertTrue(any(n.rsplit("/", 1)[-1].startswith("._")
                                for n in names))
            self.assertTrue(any(n.endswith(".zip") for n in names))


class MetricCatalogTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_names_and_counts(self):
        names = [m["name"] for m in metrics.END_TO_END + metrics.PER_LAYER]
        for n in names + list(metrics.WORKLOADS):
            self.assertRegex(n, self.NAME)
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(metrics.END_TO_END), 16)
        self.assertLessEqual(len(metrics.PER_LAYER), 128)
        for m in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertRegex(m["unit"], self.UNIT)
        self.assertIn("setup_s", [m["name"] for m in metrics.END_TO_END])
        self.assertEqual(max(m["bound"] for m in metrics.END_TO_END),
                         next(m["bound"] for m in metrics.END_TO_END
                              if m["name"] == "setup_s"))

    def test_benchmark_json_matches_catalog(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(spec["end_to_end"], metrics.END_TO_END)
        self.assertEqual(spec["per_layer"], metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(metrics.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
