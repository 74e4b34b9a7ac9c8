#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Writes the files the pipeline reads (Kobo JSON in both form
vocabularies, PDS trips and trip-points CSV, the device registry, the
document corpus) plus ``answers.json``: the planted answers the
benchmark checks every unit's output against.  The program under test
never reads ``answers.json``.

The expected values are computed by replaying the counting semantics of
each stage on the generated records:

* ingest: one row per (vessel, catch); a vessel without catches and a
  submission without vessels each keep one placeholder row; truncated
  (corrupt) documents are dropped.
* preprocess / validate / export_landings: one row per ingested row.
* merge_trips: a landing row matches a trip when its IMEI resolves to
  exactly one registry device by suffix and its (landing day, device)
  key is unique among landings and among trips.
* export_tracks: one row per (matched trip, 10-minute bucket of its
  points); a matched trip without points yields no row, because the
  10-minute window drops null timestamps.
* curate: no planted exact duplicate (a later document whose text equals
  an earlier one's) survives.

Usage: gen.py --workload {dag_bulk,curate} --seed N --out DIR
       gen.py --self-test DIR
"""

import argparse
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import sys

# Input sizes per workload; documented in perfbench/README.md.
SIZES = {
    "dag_bulk": {"subs": 2000, "devices": 14000, "days": 1461},
    "curate": {"docs": 8000},
}
# A tiny shape for the determinism self-test.
TINY = {"subs": 60, "devices": 40, "days": 30, "docs": 60}

NEW_FORM = "FieldDataApp-2024"
LEGACY_FORM = "Malawi SSF"
FIRST_DAY = dt.date(2021, 1, 1)
FIRST_ID = 1_000_000
CORRUPT_EVERY = 97          # about one truncated document in 97
PART_FILES = 4              # files per source directory
# The history keeps the ratios of an sf0.1-sized one (150k submissions,
# 600k catch rows, 150k trips, 1.8M track points): with 1.26 vessels per
# submission these give about 4 catch rows per submission, and trips
# carry 0-24 points, about 12 on average.
CATCHES_PER_VESSEL = [1, 2, 2, 3, 3, 4, 4, 5, 5]
MAX_POINTS = 24

SPECIES = ["Usipa", "Chambo", "Kampango", "Mcheni", "Utaka", "Kambuzi",
           "Mlamba", "Other-tilapia", "Ncheni", "nocatch"]
GEARS = ["Gillnet", "Chilimira", "Kambuzi seine", "Longline", "Handline",
         "Mosquito net", "Fish trap", "other gear"]
VESSELS = ["B+E", "B-E", "Dugout Canoe", "Plunked Canoe",
           "B+E with Plank Canoe"]
DISTRICTS = ["Mangochi", "Nkhotakota", "Salima", "Nkhata Bay", "Karonga",
             "Dedza", "Likoma"]
BEACHES = ["Msaka", "Makanjira", "Senga", "Chipoka", "Kachulu", "Nsumbi",
           "Mbenji", "Chilumba", "Usisya", "Ruarwe"]


def rng(seed, *parts):
    """An independent, reproducible stream per (seed, component)."""
    return random.Random("-".join(str(p) for p in (seed,) + parts))


def registry(seed, n):
    """15-digit IMEIs whose last seven digits are unique, so a 7-digit
    suffix names at most one device."""
    r = rng(seed, "registry")
    suffixes = r.sample(range(1_000_000, 10_000_000), n)
    return ["86960" + "%03d" % r.randrange(1000) + "%07d" % s for s in suffixes]


def imei_value(r, devices, suffix_of):
    """A tracker IMEI as surveyors type it: the full registry IMEI, its
    last seven digits, or an invalid, unregistered or missing value."""
    u = r.random()
    if u < 0.55:
        return devices[r.randrange(len(devices))]
    if u < 0.75:
        return suffix_of[r.randrange(len(devices))]
    if u < 0.82:
        return "1234"                                    # too short: alert 1
    if u < 0.90:
        return "35" + "%013d" % r.randrange(10 ** 13)    # not registered
    if u < 0.95:
        return "0"
    return None


def catch_record(r):
    sp = r.choice(SPECIES)
    kg = round(r.lognormvariate(1.8, 0.9), 1)
    per_kg = r.random() < 0.3
    price = round(kg * r.lognormvariate(7.3, 0.5)) if not per_kg else \
        round(r.lognormvariate(7.3, 0.5))
    return {"fish_species": sp, "weight": str(kg), "weight_type": "kg",
            "value_species": str(price),
            "value_type": "per_kg" if per_kg else "total",
            "catch_use": r.choice(["sale", "home", "sale", "gift"])}


def submission(r, sid, day, legacy, devices, suffix_of):
    """One Kobo submission document."""
    day_s = day.isoformat()
    today = (day + dt.timedelta(days=1)).isoformat()
    lat = -14.0 + r.uniform(-1.5, 1.5)
    lon = 34.8 + r.uniform(-0.6, 0.6)
    gps = "%.5f %.5f %.1f %.1f" % (lat, lon, r.uniform(460, 480), r.uniform(3, 9))
    n_vessels = 0 if r.random() < 0.03 else (1 if r.random() < 0.7 else 2)
    doc = {"_id": sid, "today": today,
           "group_location/sample_district": r.choice(DISTRICTS),
           "group_location/landing_beach": r.choice(BEACHES),
           "group_location/gps_location": gps}
    if legacy:
        doc.update({"date_of_landing": day_s,
                    "fishing": "yes" if n_vessels else "no",
                    "total_landings": str(r.randint(1, 40))})
    else:
        doc.update({"landing_date": day_s,
                    "fishing_today": "yes" if n_vessels else "no",
                    "n_vessels": str(r.randint(1, 40))})
    if not n_vessels:
        doc["why_not_fishing" if not legacy else "why_not"] = r.choice(["wind", "rain"])
        return doc
    vessels = []
    for v in range(1, n_vessels + 1):
        n_catch = 0 if r.random() < 0.03 else r.choice(CATCHES_PER_VESSEL)
        imei = imei_value(r, devices, suffix_of)
        gear = r.choice(GEARS)
        crew = r.randint(1, 9) if r.random() > 0.01 else -1
        catches = [catch_record(r) for _ in range(n_catch)]
        if legacy:
            vessel = {"vessel_type": r.choice(VESSELS), "crew_number": str(crew),
                      "hours_fished": str(r.randint(2, 14)), "gear_type": gear,
                      "fish_repeat": catches}
            if imei is not None:
                vessel["imei_number"] = imei
        else:
            p = "group_vessel_data/"
            vessel = {p + "group_vessel/vessel_type": r.choice(VESSELS),
                      p + "group_vessel/crew_number": str(crew),
                      p + "group_vessel/crew_female": str(r.randint(0, 2)),
                      p + "group_vessel/hours_fished": str(r.randint(2, 14)),
                      p + "group_gear/gear_type": gear,
                      p + "group_gear/gear_mesh_size_mm": str(r.choice([25, 38, 51, 64])),
                      p + "group_trade/trader_sex": r.choice(["female", "male"]),
                      p + "market/dest": r.choice(["Local market ", "Lilongwe", "Home"]),
                      p + "group_catch": catches}
            if imei is not None:
                vessel[p + "group_vessel/imei_number"] = imei
            if gear == "Gillnet":
                vessel[p + "group_gillnets"] = [
                    {"gillnet_mesh_mm": str(r.choice([38, 51, 64])),
                     "gillnet_length_m": str(r.randint(30, 200)),
                     "net_type": r.choice(["multifilament", "monofilament"])}
                    for _ in range(r.randint(1, 2))]
        vessels.append(vessel)
    doc["vessels" if legacy else "group_vessel_data"] = vessels
    return doc


def ts(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def write_parts(path, header, lines):
    os.makedirs(path, exist_ok=True)
    for p in range(PART_FILES):
        with open(os.path.join(path, "part-%d.%s" % (p, "csv" if header else "json")),
                  "w", encoding="utf-8", newline="\n") as f:
            if header:
                f.write(header + "\n")
            for line in lines[p::PART_FILES]:
                f.write(line + "\n")


def dag_inputs(seed, size, devices, out):
    """The DAG's inputs (Kobo in both vocabularies, trips, points) and
    their planted answers."""
    r = rng(seed, "dag")
    suffix_of = [d[-7:] for d in devices]
    device_of = {v: i for vals in (devices, suffix_of) for i, v in enumerate(vals)}
    landings, docs = [], {NEW_FORM: [], LEGACY_FORM: []}
    raw_rows = corrupt = 0
    for i in range(size["subs"]):
        sid = FIRST_ID + i
        legacy = r.random() < 0.35
        day = FIRST_DAY + dt.timedelta(days=r.randrange(size["days"]))
        if r.random() < 0.01:
            day = dt.date(2020, 12, r.randint(1, 30))    # before the date cutoff
        doc = submission(r, sid, day, legacy, devices, suffix_of)
        line = json.dumps(doc, separators=(",", ":"))
        if i % CORRUPT_EVERY == CORRUPT_EVERY // 2:
            line = line[: len(line) // 2]               # truncated mid-document
            corrupt += 1
        else:
            raw_rows += ingested_rows(doc, sid, day, legacy, device_of, landings)
        docs[LEGACY_FORM if legacy else NEW_FORM].append(line)

    # trips: most tracked landings get a trip that day, some get two, and
    # some trips have no landing at all
    trip_id = FIRST_ID * 10
    tracked = sorted({(d, dev) for _, d, dev in landings if dev is not None})
    keys = []
    for d, dev in tracked:
        u = r.random()
        if u < 0.7:
            keys.append((d, dev))
        if u < 0.05:
            keys.append((d, dev))
    for _ in range(len(tracked) // 3):
        keys.append((FIRST_DAY + dt.timedelta(days=r.randrange(size["days"])),
                     r.randrange(len(devices))))
    trip_rows, point_lines = [], []
    trips_per_key, buckets_of = {}, {}
    for d, dev in keys:
        trip_id += 1
        end = dt.datetime(d.year, d.month, d.day, r.randint(3, 15), r.randint(0, 59),
                          r.randint(0, 59))
        start = end - dt.timedelta(minutes=r.randint(120, 600))
        boat = "boat-%04d" % dev
        trip_rows.append('%d,%s,%s,%s,%s,%s,"%s, %s"' % (
            trip_id, devices[dev], boat, "C%02d" % (dev % 17), ts(start), ts(end),
            boat.upper(), r.choice(DISTRICTS)))
        trips_per_key.setdefault((d, dev), []).append(trip_id)
        buckets = set()
        span_s = int((end - start).total_seconds())
        for off in sorted(r.sample(range(1, span_s), r.randint(0, MAX_POINTS))):
            t = start + dt.timedelta(seconds=off)
            buckets.add(int(t.replace(tzinfo=dt.timezone.utc).timestamp()) // 600)
            point_lines.append("%d,%s,%.6f,%.6f,%s,%.2f,%.1f,%.1f,%s,%s" % (
                trip_id, ts(t), -14.0 + r.uniform(-1.5, 1.5), 34.8 + r.uniform(-0.6, 0.6),
                boat, r.uniform(0, 6), r.uniform(0, 9000), r.uniform(0, 360),
                boat.upper(), "C%02d" % (dev % 17)))
        buckets_of[trip_id] = len(buckets)

    landing_keys = {}
    for _, d, dev in landings:
        if dev is not None:
            landing_keys[(d, dev)] = landing_keys.get((d, dev), 0) + 1
    matched = [trips_per_key[k][0] for k, n in landing_keys.items()
               if n == 1 and len(trips_per_key.get(k, ())) == 1]

    write_parts(os.path.join(out, "kobo", "new"), None, docs[NEW_FORM])
    write_parts(os.path.join(out, "kobo", "legacy"), None, docs[LEGACY_FORM])
    write_parts(os.path.join(out, "trips"),
                "Trip,IMEI,Boat,Community,Started,Ended,Boat Name", trip_rows)
    write_parts(os.path.join(out, "points"),
                "Trip,Time,Lat,Lng,Boat,Speed (M/S),Range (Meters),Heading,"
                "Boat Name,Community", point_lines)
    return {"submissions": size["subs"], "corrupt": corrupt, "raw_rows": raw_rows,
            "trips": len(trip_rows), "points": len(point_lines),
            "merged_rows": len(matched), "merged_trip_sum": sum(matched),
            "track_rows": sum(buckets_of[t] for t in matched)}


def ingested_rows(doc, sid, day, legacy, device_of, landings):
    """Appends (survey_id, landing day, registry device or None) for each
    row ingest makes of ``doc`` and returns their number."""
    vessels = doc.get("vessels" if legacy else "group_vessel_data")
    if not vessels:
        landings.append(("%d-NA-NA" % sid, day, None))
        return 1
    pre = "" if legacy else "group_vessel_data/group_vessel/"
    rows = 0
    for v, vessel in enumerate(vessels, 1):
        device = device_of.get(vessel.get(pre + "imei_number"))
        n = len(vessel["fish_repeat" if legacy else "group_vessel_data/group_catch"])
        for c in range(1, max(n, 1) + 1):
            landings.append(("%d-%d-%s" % (sid, v, c if n else "NA"), day, device))
        rows += max(n, 1)
    return rows


WORDS_ALPHABET = "etaoinshrdlucmfwypvbgkqjxz"


def corpus(seed, size, out):
    """Documents with Zipf-distributed words, planted exact and near
    duplicates (ScaleGen's rates: about 1 in 613 and 1 in 617), e-mail
    addresses and phone numbers for the PII scrub."""
    r = rng(seed, "corpus")
    n = size["docs"]
    vocab = set()
    while len(vocab) < int(60 * n ** 0.5):
        vocab.add("".join(r.choice(WORDS_ALPHABET[:20 + r.randint(0, 6)])
                          for _ in range(r.randint(2, 9))))
    vocab = sorted(vocab)
    cum, acc = [], 0.0
    for rank in range(len(vocab)):
        acc += 1.0 / (rank + 1.0)
        cum.append(acc)
    texts, lines = [], []
    for doc_id in range(n):
        u = r.random()
        if doc_id > 0 and u < 1 / 613:
            text = texts[r.randrange(doc_id)]
        elif doc_id > 0 and u < 1 / 613 + 1 / 617:
            toks = texts[r.randrange(doc_id)].split(" ")
            toks[len(toks) // 2] = r.choice(vocab)
            text = " ".join(toks)
        else:
            toks = r.choices(vocab, cum_weights=cum, k=r.randint(8, 160))
            if r.random() < 0.05:
                toks.insert(r.randrange(len(toks)), "%s@%s.org" % (r.choice(vocab), r.choice(vocab)))
            if r.random() < 0.05:
                toks.insert(r.randrange(len(toks)), "+265 %03d %03d %03d" % (
                    r.randrange(1000), r.randrange(1000), r.randrange(1000)))
            text = " ".join(toks)
        texts.append(text)
        lines.append(json.dumps({"doc_id": doc_id, "text": text,
                                 "lang": r.choice(["en", "en", "en", "ny"]),
                                 "source": "src%d" % (doc_id % 20)},
                                separators=(",", ":")))
    write_parts(os.path.join(out, "corpus"), None, lines)
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    return {"docs": n, "exact_dups": sorted(i for i, t in enumerate(texts) if first[t] != i)}


def generate(workload, seed, out, size=None):
    size = dict(size or SIZES[workload])
    os.makedirs(out, exist_ok=True)
    answers = {"workload": workload, "seed": seed}
    if workload == "curate":
        answers.update(corpus(seed, size, out))
    else:
        devices = registry(seed, size["devices"])
        os.makedirs(os.path.join(out, "registry"), exist_ok=True)
        with open(os.path.join(out, "registry", "devices.csv"), "w", newline="\n") as f:
            f.write("IMEI,Boat\n")
            for i, d in enumerate(devices):
                f.write("%s,boat-%04d\n" % (d, i))
        answers.update(dag_inputs(seed, size, devices, out))
    with open(os.path.join(out, "answers.json"), "w") as f:
        json.dump(answers, f, indent=1, sort_keys=True)
    return answers


def tree_digest(root):
    h = hashlib.sha256()
    for base, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(base, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def self_test(scratch):
    """Same seed -> identical files; another seed -> different files."""
    digests = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        for wl in SIZES:
            d = os.path.join(scratch, tag, wl)
            generate(wl, seed, d, TINY)
            digests[(tag, wl)] = tree_digest(d)
    shutil.rmtree(scratch, ignore_errors=True)
    for wl in SIZES:
        if digests[("a", wl)] != digests[("b", wl)]:
            raise SystemExit("self-test: seed 7 generated different %s inputs twice" % wl)
        if digests[("a", wl)] == digests[("c", wl)]:
            raise SystemExit("self-test: seeds 7 and 8 generated identical %s inputs" % wl)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out")
    ap.add_argument("--self-test", metavar="SCRATCH_DIR")
    a = ap.parse_args()
    if a.self_test:
        self_test(a.self_test)
        print("self-test ok", file=sys.stderr)
        return
    if a.workload is None or a.seed is None or a.out is None:
        ap.error("--workload, --seed and --out are required")
    json.dump(generate(a.workload, a.seed, a.out), sys.stdout)
    print()


if __name__ == "__main__":
    main()
