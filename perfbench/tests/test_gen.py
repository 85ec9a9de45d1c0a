"""The trip generator's properties, asserted exactly against the files it
writes. Run from the repo root:

    python3 -m unittest discover -s perfbench/tests
"""
import csv
import datetime as dt
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402

def read_back(path):
    """Rows as the program's CSV reader lands them: a missing or empty field
    is NULL."""
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))[1:]
    return [tuple(r) for r in rows]


def parses(ts):
    try:
        dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S")
        return True
    except ValueError:
        return False


class TripScheduleTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.man = gen.write_trip_batches(cls.tmp.name, seed=7)
        cls.files = {b["name"]: read_back(b["path"]) for b in cls.man["batches"]}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def batches(self, kind):
        return [b for b in self.man["batches"] if b["kind"] == kind]

    def test_schedule_order(self):
        self.assertEqual([b["name"] for b in self.man["batches"]],
                         ["b00", "b01", "b02", "b01_again", "b03", "backfill", "b04"])

    def test_measured_schedule_is_well_formed(self):
        for b in self.man["batches"]:
            self.assertEqual(b["malformed_rows"], 0)

    def test_manifest_matches_the_files(self):
        seen = set()
        for b in self.man["batches"]:
            rows = self.files[b["name"]]
            keys = [gen.trip_key(r) for r in rows]
            self.assertEqual(b["rows"], len(rows))
            self.assertEqual(b["distinct_keys"], len(set(keys)))
            self.assertEqual(b["new_keys"], len(set(keys) - seen))
            self.assertEqual(b["malformed_rows"],
                             sum(1 for r in rows if len(r) < 5 or not parses(r[3])))
            seen |= set(keys)
        self.assertEqual(self.man["distinct_keys"], len(seen))

    def test_distinct_keys_per_in_order_batch(self):
        first, *rest = self.batches("in_order")
        self.assertEqual(first["distinct_keys"], gen.BATCH_DAYS * gen.TRIPS_PER_DAY)
        for b in rest:
            self.assertEqual(b["distinct_keys"],
                             (gen.BATCH_DAYS + gen.OVERLAP_DAYS) * gen.TRIPS_PER_DAY)

    def test_intra_batch_duplicate_share(self):
        for b in self.batches("in_order"):
            dups = b["rows"] - b["distinct_keys"]
            self.assertEqual(dups, int(b["distinct_keys"] * gen.DUP_SHARE))

    def test_cross_batch_overlap_share(self):
        first, *rest = self.batches("in_order")
        self.assertEqual(first["overlap_share"], 0.0)
        for b in rest:
            self.assertEqual(b["overlap_share"],
                             gen.OVERLAP_DAYS / (gen.BATCH_DAYS + gen.OVERLAP_DAYS))

    def test_days_per_batch_versus_history(self):
        in_order = self.batches("in_order")
        self.assertEqual(len(in_order), gen.IN_ORDER_BATCHES)
        for i, b in enumerate(in_order):
            self.assertEqual(b["days"], gen.BATCH_DAYS + (gen.OVERLAP_DAYS if i else 0))
            first = gen.START + dt.timedelta(days=b["first_day"])
            self.assertEqual(b["date_min"], first.isoformat())
        self.assertEqual(in_order[-1]["last_day"], gen.HISTORY_DAYS - 1)

    def test_redelivery_is_all_duplicates(self):
        (again,) = self.batches("redelivery")
        self.assertEqual(self.files["b01_again"], self.files["b01"])
        self.assertEqual(again["overlap_share"], 1.0)
        self.assertEqual(again["new_keys"], 0)

    def test_backfill_spans_the_whole_history_so_far(self):
        (bf,) = self.batches("backfill")
        names = [b["name"] for b in self.man["batches"]]
        before = self.man["batches"][:names.index("backfill")]
        self.assertEqual(bf["first_day"], 0)
        self.assertEqual(bf["last_day"], max(b["last_day"] for b in before))
        self.assertEqual(bf["days"], bf["last_day"] + 1)
        self.assertEqual(bf["date_min"], gen.START.isoformat())
        per_day = gen.BACKFILL_EXISTING_PER_DAY + gen.BACKFILL_NEW_PER_DAY
        self.assertEqual(bf["rows"], bf["days"] * per_day)
        self.assertEqual(bf["new_keys"], bf["days"] * gen.BACKFILL_NEW_PER_DAY)
        self.assertEqual(bf["overlap_share"],
                         gen.BACKFILL_EXISTING_PER_DAY / per_day)

    def test_date_times_are_unique_so_keys_are_distinct_by_construction(self):
        valid = [r for rows in self.files.values() for r in rows
                 if len(r) == 5 and parses(r[3])]
        by_ts = {}
        for r in valid:
            by_ts.setdefault(r[3], set()).add(gen.trip_key(r))
        self.assertTrue(all(len(k) == 1 for k in by_ts.values()))

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            m1 = gen.write_trip_batches(a, seed=7)
            m2 = gen.write_trip_batches(b, seed=8)
            def content(man):
                out = []
                for x in man["batches"]:
                    with open(x["path"], "rb") as f:
                        out.append(f.read())
                return out
            p0, p1, p2 = content(self.man), content(m1), content(m2)
            self.assertEqual(p1, p0)
            self.assertNotEqual(p2, p0)


class ProbeScheduleTest(unittest.TestCase):
    """The known-defect probe's files: a dirty file, the same file again,
    and a file of malformed rows only."""
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.man = gen.write_trip_batches(cls.tmp.name, 7, gen.probe_batches)
        cls.files = {b["name"]: read_back(b["path"]) for b in cls.man["batches"]}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_order(self):
        self.assertEqual([b["name"] for b in self.man["batches"]],
                         ["dirty", "dirty_again", "all_malformed"])

    def test_dirty_file_share_and_redelivery(self):
        dirty, again, bad = self.man["batches"]
        valid = gen.DIRTY_DAYS * gen.DIRTY_VALID_PER_DAY
        self.assertEqual(dirty["malformed_rows"], gen.DIRTY_BAD)
        self.assertEqual(dirty["rows"], valid + gen.DIRTY_BAD)
        self.assertEqual(dirty["distinct_keys"], valid + gen.DIRTY_BAD)
        self.assertEqual(dirty["days"], gen.DIRTY_DAYS)
        self.assertEqual(self.files["dirty_again"], self.files["dirty"])
        self.assertEqual(again["new_keys"], 0)
        rows = self.files["dirty"]
        ragged = [r for r in rows if len(r) < 5]
        empty = [r for r in rows if len(r) == 5 and r[3] == ""]
        self.assertEqual(len(ragged), gen.DIRTY_BAD // 6)
        self.assertEqual(len(empty), gen.DIRTY_BAD // 6)
        self.assertEqual(bad["rows"], gen.DIRTY_BAD)
        self.assertEqual(bad["malformed_rows"], gen.DIRTY_BAD)
        self.assertEqual(bad["new_keys"], gen.DIRTY_BAD)
        self.assertEqual(self.man["distinct_keys"], valid + 2 * gen.DIRTY_BAD)


if __name__ == "__main__":
    unittest.main()
