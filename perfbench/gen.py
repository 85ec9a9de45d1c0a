"""Seeded input generators for the benchmark.

Two families of inputs, both a pure function of the seed:

* trip CSV batches for the `trip_batches` workload, written in the
  reference's five-column layout (region, origin_coord, destination_coord,
  date_time, datasource). Every trip of the timeline gets a date_time
  second that no other trip of its day has, so trip keys are distinct by
  construction and every property of a schedule (distinct keys per batch,
  duplicate and overlap shares, day spans, malformed rows) is known
  exactly. `manifest` records those properties; the benchmark's tests
  assert them against the files. The measured schedule is all well-formed;
  the malformed-date files go to the known-defect probe (`probe_batches`).
* the catalog slice's parquet tables (lineitem, orders, events, documents)
  in the column layout the catalog entries read.
"""
import csv
import datetime as dt
import io
import os
import random

START = dt.date(2024, 1, 1)
REGIONS = ["Prague", "Turin", "Hamburg", "Osaka", "Lyon", "Porto"]
# skewed, so regions differ in volume
REGION_WEIGHTS = [34, 23, 16, 12, 9, 6]
DATASOURCES = ["funny_car", "baba_car", "cheap_mobile",
               "bad_diesel_vehicles", "pt_search_app"]
HEADER = ["region", "origin_coord", "destination_coord", "date_time",
          "datasource"]


# The trip schedule. Every property the tests assert follows from these.
HISTORY_DAYS = 35
TRIPS_PER_DAY = 600
BATCH_DAYS = 7                 # fresh days per in-order batch
IN_ORDER_BATCHES = HISTORY_DAYS // BATCH_DAYS
OVERLAP_DAYS = 1               # days re-sent from the previous batch
DUP_SHARE = 0.05               # extra intra-batch duplicate rows
REDELIVER_AFTER = 2            # in-order batch after which one is re-sent
REDELIVER_BATCH = 1            # the in-order batch that is re-sent
BACKFILL_AFTER = 3
BACKFILL_EXISTING_PER_DAY = 30
BACKFILL_NEW_PER_DAY = 30
# The known-defect probe: a dirty file delivered twice, then a file whose
# every date_time is malformed.
DIRTY_DAYS = 5
DIRTY_VALID_PER_DAY = 300
DIRTY_BAD = 24                 # rows with a missing or unparseable date_time


def _coord(rng):
    return f"POINT ({rng.uniform(7.0, 15.0):.6f} {rng.uniform(44.0, 54.0):.6f})"


def _trip(rng, day, second):
    ts = dt.datetime.combine(START + dt.timedelta(days=day), dt.time()) \
        + dt.timedelta(seconds=second)
    return (rng.choices(REGIONS, REGION_WEIGHTS)[0], _coord(rng), _coord(rng),
            ts.strftime("%Y-%m-%d %H:%M:%S"), rng.choice(DATASOURCES))


def trip_key(row):
    """The program's trip_key: the non-null fields concatenated. A CSV field
    that is absent or empty lands as NULL and is skipped."""
    return "".join(f for f in row if f)


def _bad_rows(rng, n, day):
    """Rows the CSV reader accepts but whose date_time is missing or does
    not parse: an empty field, a ragged line that stops after the
    coordinates, impossible calendar values and a foreign format."""
    base = START + dt.timedelta(days=day)
    kinds = [
        lambda: (None, None),
        lambda: ("", rng.choice(DATASOURCES)),
        lambda: (f"{base.year}-02-30 {rng.randrange(24):02d}:00:00",
                 rng.choice(DATASOURCES)),
        lambda: (f"{base.year}-13-{rng.randrange(1, 29):02d} 10:00:00",
                 rng.choice(DATASOURCES)),
        lambda: (f"{base.day:02d}/{base.month:02d}/{base.year} "
                 f"{rng.randrange(24):02d}:{rng.randrange(60):02d}",
                 rng.choice(DATASOURCES)),
        lambda: ("not a timestamp", rng.choice(DATASOURCES)),
    ]
    out = []
    for i in range(n):
        ts, src = kinds[i % len(kinds)]()
        region = rng.choice(REGIONS)
        if ts is None:   # ragged: the line ends after destination_coord
            out.append((region, _coord(rng), _coord(rng)))
        else:
            out.append((region, _coord(rng), _coord(rng), ts, src))
    return out


def trip_batches(seed):
    """The trip schedule as a list of (name, rows, kind, first day, last
    day) in delivery order; `manifest` gives each batch's properties."""
    rng = random.Random(seed)
    # every trip of the timeline, per day: in-order trips first, then the
    # late ones only the backfill delivers; seconds are distinct per day
    per_day_total = TRIPS_PER_DAY + BACKFILL_NEW_PER_DAY
    timeline = []
    for d in range(HISTORY_DAYS):
        seconds = rng.sample(range(86400), per_day_total)
        timeline.append([_trip(rng, d, s) for s in seconds])

    def in_order(b):
        lo = b * BATCH_DAYS
        first = max(0, lo - OVERLAP_DAYS)
        rows = [t for d in range(first, lo + BATCH_DAYS)
                for t in timeline[d][:TRIPS_PER_DAY]]
        return rows, first, lo + BATCH_DAYS - 1

    def with_dups(rows):
        dups = rng.sample(rows, int(len(rows) * DUP_SHARE))
        out = rows + dups
        rng.shuffle(out)
        return out

    out = []
    for b in range(IN_ORDER_BATCHES):
        rows, d0, d1 = in_order(b)
        out.append((f"b{b:02d}", with_dups(rows), "in_order", d0, d1))
        if b == REDELIVER_AFTER:
            src = out[REDELIVER_BATCH]
            out.append((f"{src[0]}_again", list(src[1]), "redelivery",
                        src[3], src[4]))
        if b == BACKFILL_AFTER:
            bf = []
            for d in range(0, d1 + 1):
                bf += rng.sample(timeline[d][:TRIPS_PER_DAY],
                                 BACKFILL_EXISTING_PER_DAY)
                bf += timeline[d][TRIPS_PER_DAY:]
            rng.shuffle(bf)
            out.append(("backfill", bf, "backfill", 0, d1))
    return out


def probe_batches(seed):
    """The known-defect probe's files, in delivery order: a dirty file of
    well-formed trips (DIRTY_VALID_PER_DAY on each of DIRTY_DAYS days) plus
    DIRTY_BAD malformed rows, the same file again, and a file of DIRTY_BAD
    malformed rows only."""
    rng = random.Random(seed * 104729 + 3)
    valid = [_trip(rng, d, s) for d in range(DIRTY_DAYS)
             for s in rng.sample(range(86400), DIRTY_VALID_PER_DAY)]
    dirty = valid + _bad_rows(rng, DIRTY_BAD, DIRTY_DAYS - 1)
    rng.shuffle(dirty)
    days = 0, DIRTY_DAYS - 1
    return [("dirty", dirty, "dirty", *days),
            ("dirty_again", list(dirty), "dirty", *days),
            ("all_malformed", _bad_rows(rng, DIRTY_BAD, DIRTY_DAYS - 1),
             "all_malformed", *days)]


def _parses(ts):
    try:
        dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S")
        return True
    except (TypeError, ValueError):
        return False


def manifest(batches):
    """Exact properties of a schedule, batch by batch and in total."""
    seen = set()
    per = []
    for name, rows, kind, d0, d1 in batches:
        keys = [trip_key(r) for r in rows]
        distinct = set(keys)
        dates = sorted({r[3][:10] for r in rows
                        if len(r) > 3 and _parses(r[3])})
        per.append({
            "name": name, "kind": kind, "rows": len(rows),
            "distinct_keys": len(distinct),
            "intra_dup_share": (len(rows) - len(distinct)) / len(rows),
            "overlap_share": len(distinct & seen) / len(distinct),
            "new_keys": len(distinct - seen),
            "first_day": d0, "last_day": d1, "days": d1 - d0 + 1,
            "date_min": dates[0] if dates else None,
            "date_max": dates[-1] if dates else None,
            "malformed_rows": sum(1 for r in rows
                                  if len(r) < 5 or not _parses(r[3])),
        })
        seen |= distinct
    return {"batches": per, "distinct_keys": len(seen),
            "rows": sum(p["rows"] for p in per)}


def write_csv(path, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    for r in rows:
        w.writerow(r)
    with open(path, "w", encoding="utf-8") as f:
        f.write(buf.getvalue())


def write_trip_batches(out_dir, seed, schedule=trip_batches):
    """Write a schedule's CSV files; return the manifest with file paths
    and byte sizes."""
    os.makedirs(out_dir, exist_ok=True)
    batches = schedule(seed)
    man = manifest(batches)
    for (name, rows, *_), meta in zip(batches, man["batches"]):
        path = os.path.join(out_dir, f"{name}.csv")
        write_csv(path, rows)
        meta["path"] = os.path.abspath(path)
        meta["bytes"] = os.path.getsize(path)
    # CSV bytes of the distinct trips, one line each plus one header: the
    # denominator of space amplification
    keyed = {}
    for name, rows, *_ in batches:
        for r in rows:
            keyed.setdefault(trip_key(r), r)
    man["distinct_csv_bytes"] = sum(
        len(",".join(r)) + 1 for r in keyed.values()) + len(",".join(HEADER)) + 1
    return man


# --------------------------------------------------------------------------
# catalog slice tables
# --------------------------------------------------------------------------

WORDS = ("a batch big column data fast filter group hash key line merge "
         "order part query row scan slow small sort spark stream table "
         "value vector window agg index join plan cache disk node shard "
         "page block file write read commit log").split()


CATALOG_SCALE = 0.25   # of the sf0.1 row counts


def write_catalog_tables(out_dir, seed):
    """lineitem, orders, events and documents as parquet, shaped like the
    tables the catalog entries were written against, at CATALOG_SCALE of
    their sf0.1 row counts (600k / 150k / 100k / 5k). Documents share boilerplate spans and near-copies
    so the span, run and jaccard entries have real work to find."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rs = np.random.default_rng(seed)
    n_li, n_ord = int(600_000 * CATALOG_SCALE), int(150_000 * CATALOG_SCALE)
    n_ev, n_doc = int(100_000 * CATALOG_SCALE), int(5_000 * CATALOG_SCALE)

    epoch = np.datetime64("1992-01-01", "D")
    li = pa.table({
        "l_orderkey": rs.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rs.integers(0, 20_000, n_li, dtype=np.int64),
        "l_suppkey": rs.integers(0, 1_000, n_li, dtype=np.int64),
        "l_linenumber": rs.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rs.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rs.uniform(900, 105_000, n_li), 2),
        "l_discount": rs.integers(0, 11, n_li) / 100.0,
        "l_tax": rs.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rs.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rs.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": (epoch + rs.integers(0, 2_500, n_li)).astype("datetime64[us]"),
    })
    pq.write_table(li, os.path.join(out_dir, "lineitem.parquet"))

    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rs.integers(0, 15_000, n_ord, dtype=np.int64),
        "o_orderstatus": rs.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": np.round(rs.uniform(800, 500_000, n_ord), 2),
        "o_orderdate": (epoch + rs.integers(0, 2_400, n_ord)).astype("datetime64[us]"),
        "o_orderpriority": rs.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord),
    })
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))

    # events over four weeks of January 2024, time-ordered, with distinct
    # microsecond timestamps so session boundaries never tie
    span_us = 28 * 86_400 * 1_000_000
    ts = np.sort(rs.choice(span_us, n_ev, replace=False))
    ev = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + ts.astype("timedelta64[us]")),
        "user_id": rs.integers(0, 2_000, n_ev, dtype=np.int64),
        "event_type": rs.choice(np.array(
            ["view", "click", "purchase", "error", "signup"]), n_ev),
        "value": np.round(rs.uniform(0, 500, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)],
    })
    pq.write_table(ev, os.path.join(out_dir, "events.parquet"))

    # sizes are fixed and only their placement is seeded, so every seed
    # gives the same token count, boilerplate volume and near-copy count
    rng = random.Random(seed)
    boiler = [" ".join(rng.choice(WORDS) for _ in range(8 + j * 23 // 40))
              for j in range(40)]
    lengths = [3 + i * 88 // n_doc for i in range(n_doc)]
    rng.shuffle(lengths)
    copies = set(rng.sample(range(n_doc // 10, n_doc), n_doc * 3 // 100))
    with_boiler = rng.sample(sorted(set(range(n_doc)) - copies), n_doc // 5)
    boiler_of = {d: boiler[k % len(boiler)] for k, d in enumerate(with_boiler)}
    texts = []
    for i in range(n_doc):
        if i in copies:                           # near-copy of an earlier doc
            words = texts[rng.choice([j for j in range(i) if j not in copies])].split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(lengths[i])]
            if i in boiler_of:                    # shared boilerplate span
                at = rng.randrange(len(words) + 1)
                words[at:at] = boiler_of[i].split()
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [rng.choice(["en", "de", "fr", "zh"]) for _ in range(n_doc)],
        "source": [f"src{rng.randrange(8)}" for _ in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
