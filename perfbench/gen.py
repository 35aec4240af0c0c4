"""Seeded input generators for the hourly_etl and stream_gates workloads.

Everything here is a pure function of (seed, sizes): the same arguments write
byte-identical files (gzip headers carry mtime 0 and no name) and return the
same expected counts. The program under test only ever sees the files.
"""
import gzip
import json
import os
import random

BASE_DT = "2025-06-01"
CITIES = [f"city_{i:03d}" for i in range(400)]
COUNTRIES = ["US", "DE", "FR", "IN", "BR", "JP", "NG", "AU"]
WEATHER = [("Clear", "clear sky"), ("Clouds", "broken clouds"),
           ("Rain", "light rain"), ("Snow", "light snow"), ("Mist", "mist")]

# Injected defect rates (per distinct record / per line).
DUP_RATE = 0.02        # at-least-once retry duplicates on (city, fetched_at_utc)
RANGE_RATE = 0.01      # temp_c / humidity / pressure out of the Validate range
MALFORMED_RATE = 0.005  # lines that are not JSON at all

# CDC envelope mix; INSERT_NO_IMAGE is an INSERT whose NewImage is missing.
CDC_MIX = [("INSERT", 0.55), ("MODIFY", 0.25), ("REMOVE", 0.12),
           ("INSERT_NO_IMAGE", 0.08)]

GOOD_WORDS = ("clean prose river mountain library science history music "
              "garden theory method result").split()
SPAM_WORDS = "spam junk noise click buy free winner cheap offer".split()


def _write_gz(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(gzip.compress(data, compresslevel=6, mtime=0))


def _write_text(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def _weather_line(rng, city_i, ts, broken):
    temp = round(rng.uniform(-30.0, 45.0), 2)
    hum = rng.randint(5, 100)
    pres = rng.randint(950, 1050)
    if broken == 0:
        temp = round(rng.uniform(61.0, 95.0), 2)
    elif broken == 1:
        hum = rng.randint(101, 180)
    elif broken == 2:
        pres = -rng.randint(1, 50)
    main, desc = WEATHER[city_i % len(WEATHER)]
    return (
        '{"app":"weather","stage":"prod","source":"openweather",'
        f'"fetched_at_utc":"{ts}","city":"{CITIES[city_i]}",'
        f'"country":"{COUNTRIES[city_i % len(COUNTRIES)]}",'
        f'"lat":{(city_i % 180) - 89.5},"lon":{(city_i * 7 % 360) - 179.5},'
        f'"temp_c":{temp},"feels_like_c":{round(temp - 1.5, 2)},'
        f'"humidity":{hum},"pressure":{pres},'
        f'"wind_speed":{round(rng.uniform(0, 20), 2)},'
        f'"clouds_pct":{rng.randint(0, 100)},'
        f'"weather_main":"{main}","weather_description":"{desc}"}}')


def bronze(root, seed, hours, per_hour):
    """Gzip NDJSON bronze under root/dt=/hour=/ in the Weather.contract shape.

    Returns per-hour expected counts: distinct keys, lines written, injected
    malformed lines and distinct records with an out-of-range value."""
    rng = random.Random(f"bronze-{seed}")
    expected = []
    for h in range(hours):
        keys = rng.sample(range(len(CITIES) * 3600), per_hour)
        lines, out_of_range, malformed = [], 0, 0
        for k in keys:
            city_i, sec = k % len(CITIES), k // len(CITIES)
            ts = f"{BASE_DT}T{h:02d}:{sec // 60:02d}:{sec % 60:02d}Z"
            broken = -1
            if rng.random() < RANGE_RATE:
                broken = rng.randrange(3)
                out_of_range += 1
            line = _weather_line(rng, city_i, ts, broken)
            lines.append(line)
            if rng.random() < DUP_RATE:
                lines.append(line)
            if rng.random() < MALFORMED_RATE:
                lines.append(line[: rng.randint(5, len(line) // 2)])
                malformed += 1
        half = len(lines) // 2
        part = f"{root}/dt={BASE_DT}/hour={h:02d}"
        _write_gz(f"{part}/part-00000.json.gz", lines[:half])
        _write_gz(f"{part}/part-00001.json.gz", lines[half:])
        expected.append({"hour": f"{h:02d}", "distinct": per_hour,
                         "lines": len(lines), "malformed": malformed,
                         "out_of_range": out_of_range})
    return expected


def _ddb_image(rng, n):
    city_i = rng.randrange(len(CITIES))
    return {"city": {"S": CITIES[city_i]},
            "fetched_at_utc": {"S": f"{BASE_DT}T00:00:{n % 60:02d}Z"},
            "temp_c": {"N": f"{round(rng.uniform(-30, 45), 2)}"},
            "humidity": {"N": str(rng.randint(5, 100))},
            "tags": {"L": [{"S": "cdc"}, {"N": str(n)}]}}


def cdc(staging, seed, batches, per_batch):
    """One NDJSON file of DynamoDB-Streams envelopes per batch in staging/.

    Returns the number of INSERT events that carry a NewImage per batch."""
    rng = random.Random(f"cdc-{seed}")
    names = [n for n, _ in CDC_MIX]
    weights = [w for _, w in CDC_MIX]
    inserts = []
    n = 0
    for b in range(batches):
        lines, ins = [], 0
        for _ in range(per_batch):
            kind = rng.choices(names, weights)[0]
            ddb = {"SequenceNumber": f"{n:012d}"}
            if kind == "INSERT":
                ddb["NewImage"] = _ddb_image(rng, n)
                ins += 1
            elif kind == "MODIFY":
                ddb["NewImage"] = _ddb_image(rng, n)
            lines.append(json.dumps({
                "eventID": f"e{n}",
                "eventName": "INSERT" if kind == "INSERT_NO_IMAGE" else kind,
                "dynamodb": ddb}, separators=(",", ":")))
            n += 1
        _write_text(f"{staging}/cdc-{b:05d}.json", lines)
        inserts.append(ins)
    return inserts


def _doc_text(rng, good_share):
    words = [rng.choice(GOOD_WORDS if rng.random() < good_share else SPAM_WORDS)
             for _ in range(rng.randint(12, 40))]
    return " ".join(words)


def documents(staging, seed, batches, per_batch, train_docs):
    """Labelled training corpus plus one (doc_id, text) file per gate batch.

    Returns docs per batch (every doc must land admitted or rejected)."""
    rng = random.Random(f"docs-{seed}")
    train = []
    for i in range(train_docs):
        pos = i % 2 == 0
        train.append(json.dumps({"doc_id": i, "text": _doc_text(
            rng, 0.9 if pos else 0.1), "label": pos}, separators=(",", ":")))
    _write_text(f"{staging}/train/train.json", train)
    counts = []
    doc_id = 10_000_000
    for b in range(batches):
        lines = []
        for _ in range(per_batch):
            lines.append(json.dumps({"doc_id": doc_id, "text": _doc_text(
                rng, rng.choice((0.85, 0.15)))}, separators=(",", ":")))
            doc_id += 1
        _write_text(f"{staging}/docs/docs-{b:05d}.json", lines)
        counts.append(per_batch)
    return counts
