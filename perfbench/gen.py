"""Seeded input generators for the benchmark workloads.

Two families, both a pure function of the seed (same seed, same bytes):

* ``gen_fan``: the fan-engagement NDJSON files and the country side-input
  CSV that ``FanPipeline`` reads, shaped like the reference inputs (NDJSON
  with a share of ``DeviceType`` "Other" rows, three RaceID shapes plus
  no-digit and no-letter ids, 15 viewer countries of which the literal
  ``UK``/``USA`` miss the lookup table, a few malformed or non-object
  lines; a BOM'd CSV with trailing-space headers and quoted multi-value
  cells). It returns the counts the written shard must show.
* ``gen_tables``: the star-schema parquet tables (``region`` ... ``lineitem``
  plus ``events``, ``documents`` and ``embeddings``) that the query board
  reads, with the column domains of the board's test tables at a chosen
  scale factor.

Run as a script to write both, at the sizes of ``spec.json``, exactly as
a benchmark run writes them (``<out_dir>/fan``, ``<out_dir>/tables``)::

    python3 perfbench/gen.py <out_dir> --seed N
"""
import argparse
import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# fan_etl inputs
# --------------------------------------------------------------------------

# (raw RaceID, weight). Letters+digits in three separator shapes, padding,
# and the two fallback shapes (no digit, no letter).
RACE_IDS = [
    ("Cup 25", 6), ("league:04", 6), ("race_11", 6), ("Cup 7", 3),
    ("GP-2024 R3", 2), (" Race 09 ", 2), ("sprint:12", 3), ("Finals", 1),
    ("2025", 1),
]
# (raw viewer country, weight): 13 hit the LUT, UK/USA miss by the alias quirk.
COUNTRIES = [
    ("Brazil", 9), ("Colombia", 6), ("Mexico", 8), ("Spain", 8), ("France", 7),
    ("Germany", 7), ("Japan", 6), ("India", 7), ("Canada", 6), ("Argentina", 5),
    ("Italy", 6), (" Portugal ", 3), ("chile", 3), ("UK", 6), ("USA", 8),
]
# (DeviceType, weight); None drops the key (kept by the filter). "Other"
# variants that trim to "Other" are filtered; lower-case "other" is kept.
DEVICES = [
    ("Mobile", 30), ("Desktop", 22), ("Tablet", 12), ("SmartTV", 12),
    ("Other", 18), (" Other ", 3), ("other", 1), (None, 2),
]
MALFORMED = [
    '{"FanID": "F001", "RaceID": "Cup 25", "Timestamp": ',
    'not json at all',
    '{"FanID": "F002" "RaceID": "race_11"}',
    '42',
    '"just a string"',
]
MALFORMED_RATE = 0.001

# The side input: header with a BOM and trailing spaces, quoted multi-value
# cells, accented values, and the literal "UK"/"USA" country names.
CSV_HEADER = ("Country, Capital, GDP, Population , Pop_Growth_Rate , Life_Expectancy, "
              "Median_Age, Urban_Population, Continent, Main_Official_Language, Currency")
CSV_ROWS = [
    ("Brazil", "Brasília", "South America", "Portuguese", "BRL"),
    ("Colombia", "Bogotá", "South America", "Spanish", "COP"),
    ("Mexico", "Mexico City", "North America", "Spanish", "MXN"),
    ("Spain", "Madrid", "Europe", "Spanish", "EUR"),
    ("France", "Paris", "Europe", "French", "EUR"),
    ("Germany", "Berlin", "Europe", "German", "EUR"),
    ("Japan", "Tokyo", "Asia", "Japanese", "JPY"),
    ("India", "New Delhi", "Asia", "Hindi, English", "INR"),
    ("Canada", "Ottawa", "North America", "English, French", "CAD"),
    ("Argentina", "Buenos Aires", "South America", "Spanish", "ARS"),
    ("Italy", "Rome", "Europe", "Italian", "EUR"),
    ("Portugal", "Lisbon", "Europe", "Portuguese", "EUR"),
    ("Chile", "Santiago", "South America", "Spanish", "CLP"),
    ("UK", "London", "Europe", "English", "GBP"),
    ("USA", "Washington, D.C.", "North America", "English", "USD"),
    ("Peru", "Lima", "South America", "Spanish, Quechua", "PEN"),
    ("Egypt", "Cairo", "Africa", "Arabic", "EGP"),
    ("Nigeria", "Abuja", "Africa", "English", "NGN"),
    ("Kenya", "Nairobi", "Africa", "Swahili, English", "KES"),
    ("China", "Beijing", "Asia", "Mandarin", "CNY"),
    ("Australia", "Canberra", "Oceania", "English", "AUD"),
    ("Sweden", "Stockholm", "Europe", "Swedish", "SEK"),
    ("Türkiye", "Ankara", "Asia", "Turkish", "TRY"),
    ("Morocco", "Rabat", "Africa", "Arabic, Berber", "MAD"),
    ("Vietnam", "Hanoi", "Asia", "Vietnamese", "VND"),
]
ALIAS = {"usa": "united states", "us": "united states", "u.s.": "united states",
         "uk": "united kingdom", "uae": "united arab emirates"}
FAN_FILES = ("cup25", "league04", "race11", "sprint12")
SHARD_SUFFIX = "-00000-of-00001.jsonl"


def standardize_race_id(s):
    """Python twin of the engine's RaceID normalisation (ASCII inputs)."""
    text = s.strip()
    word = "".join(c.lower() for c in text if c.isascii() and c.isalpha())
    digits = "".join(c for c in text if c.isdigit())
    if word and digits:
        return word + digits
    return "".join(c.lower() for c in text if c.isascii() and c.isalnum())


def _csq(v):
    return f'"{v}"' if "," in v else v


def country_csv():
    lines = [CSV_HEADER]
    for i, (country, capital, continent, lang, cur) in enumerate(CSV_ROWS):
        gdp, pop = 100 + 37 * i, 1_000_000 + 7919 * i
        lines.append(",".join([country, _csq(capital), str(gdp), str(pop), "1.1", "75.0",
                               "30.5", "80.0", continent, _csq(lang), cur]))
    return ("\ufeff" + "\n".join(lines) + "\n").encode("utf-8")


LOCATION_FIELDS = ("country", "capital", "continent", "official language", "currency")


def location_key(loc):
    """A ``LocationData`` payload as one comparable string."""
    return json.dumps(loc, ensure_ascii=False, sort_keys=True)


def expected_location(raw_country):
    """The ``LocationData`` the pipeline attaches to a viewer country: the
    LUT row its trimmed, lower-cased, alias-mapped key finds, or on a miss
    the trimmed raw name with empty fields."""
    rows = {r[0].strip().lower(): r for r in CSV_ROWS}
    rows.update({a: rows[canon] for a, canon in ALIAS.items() if canon in rows})
    key = raw_country.strip().lower()
    row = rows.get(ALIAS.get(key, key))
    return dict(zip(LOCATION_FIELDS, row if row else (raw_country.strip(), "", "", "", "")))


def _pick_idx(rng, table, n):
    w = np.array([w for _, w in table], dtype=float)
    return rng.choice(len(table), size=n, p=w / w.sum())


def _pick(rng, table, n):
    return [table[i][0] for i in _pick_idx(rng, table, n)]


def gen_fan(seed, n_rows, out_dir):
    """Write ``input/*fan_engagement-000-of-001.json`` and
    ``input_side/country_data_v2.csv`` under ``out_dir``; return the glob,
    the CSV path and the counts the pipeline's output must show."""
    rng = np.random.default_rng(seed)
    race = _pick_idx(rng, RACE_IDS, n_rows)
    country = _pick_idx(rng, COUNTRIES, n_rows)
    device = _pick_idx(rng, DEVICES, n_rows)
    fans = rng.integers(1, 1000, n_rows)
    secs = rng.integers(30, 3600, n_rows)
    pred = rng.random(n_rows) < 0.3
    merch = rng.random(n_rows) < 0.1
    t0 = np.datetime64("2025-06-03T20:00:00")
    stamps = (t0 + rng.integers(0, 4 * 3600, n_rows).astype("timedelta64[s]")).astype(str)
    malformed = rng.random(n_rows) < MALFORMED_RATE
    malformed_pick = rng.integers(0, len(MALFORMED), n_rows)
    file_of = rng.integers(0, len(FAN_FILES), n_rows)

    # one JSON fragment per distinct value, then one format per line
    jq = lambda v: json.dumps(v, ensure_ascii=False)
    race_js = [jq(v) for v, _ in RACE_IDS]
    country_js = [jq(v) for v, _ in COUNTRIES]
    device_js = ["" if v is None else f', "DeviceType": {jq(v)}' for v, _ in DEVICES]
    bools = ("false", "true")
    lines = [
        MALFORMED[mp] if bad else
        f'{{"FanID": "F{fan:03d}", "RaceID": {race_js[r]}, "Timestamp": "{st[:10]} {st[11:]}", '
        f'"ViewerLocationCountry": {country_js[c]}{device_js[d]}, '
        f'"EngagementMetric_secondswatched": {sec}, '
        f'"PredictionClicked": {bools[p]}, "MerchandisingClicked": {bools[m]}}}'
        for bad, mp, fan, r, st, c, d, sec, p, m in zip(
            malformed.tolist(), malformed_pick.tolist(), fans.tolist(), race.tolist(),
            stamps.tolist(), country.tolist(), device.tolist(), secs.tolist(),
            pred.tolist(), merch.tolist())]

    is_other = np.array([(v or "").strip() == "Other" for v, _ in DEVICES])[device]
    kept = ~malformed & ~is_other
    locations = [expected_location(v) for v, _ in COUNTRIES]
    misses = np.array([loc["capital"] == "" for loc in locations])
    location_out = Counter()
    for idx, n in zip(*np.unique(country[kept], return_counts=True)):
        location_out[location_key(locations[idx])] += int(n)
    race_out = Counter()
    for idx, n in zip(*np.unique(race[kept], return_counts=True)):
        race_out[standardize_race_id(RACE_IDS[idx][0])] += int(n)

    in_dir = os.path.join(out_dir, "input")
    side_dir = os.path.join(out_dir, "input_side")
    os.makedirs(in_dir, exist_ok=True)
    os.makedirs(side_dir, exist_ok=True)
    for f, name in enumerate(FAN_FILES):
        with open(os.path.join(in_dir, f"{name}_fan_engagement-000-of-001.json"), "w",
                  encoding="utf-8") as out:
            out.write("\n".join([lines[i] for i in np.flatnonzero(file_of == f).tolist()]) + "\n")
    csv_path = os.path.join(side_dir, "country_data_v2.csv")
    with open(csv_path, "wb") as out:
        out.write(country_csv())
    expected = {"lines": n_rows, "malformed": int(malformed.sum()),
                "other": int((~malformed & is_other).sum()), "kept": int(kept.sum()),
                "fallback": int(misses[country[kept]].sum()),
                "race_ids": dict(sorted(race_out.items())),
                "locations": dict(sorted(location_out.items()))}
    return {"glob": os.path.join(in_dir, "*fan_engagement-000-of-001.json"),
            "csv": csv_path, "expected": expected}


def check_fan_shard(out_dir, prefix, expected):
    """Problems found in the pipeline's single shard (empty when correct).

    The RaceID counts must equal the generator's: ids with letters and
    digits normalise to ``[a-z]+[0-9]+``, the no-digit and no-letter ones
    to their fallback forms. The output rows do not carry the viewer
    country, so the enrichment is checked as the count of each distinct
    ``LocationData`` payload: each of the 15 countries gives its own (the
    LUT row it finds, or the fallback), so a row joined to the wrong
    country or with a field dropped or changed moves the counts."""
    names = [n for n in os.listdir(out_dir) if n.endswith(SHARD_SUFFIX)]
    if names != [prefix + SHARD_SUFFIX]:
        return [f"shard files {names}, want [{prefix + SHARD_SUFFIX}]"]
    problems = []
    race, location = Counter(), Counter()
    fallback = lines = other = 0
    with open(os.path.join(out_dir, names[0]), encoding="utf-8") as f:
        for line in f:
            lines += 1
            rec = json.loads(line)
            race[rec["RaceID"]] += 1
            fallback += rec["LocationData"]["capital"] == ""
            location[location_key(rec["LocationData"])] += 1
            other += (rec.get("DeviceType") or "").strip() == "Other"
    if lines != expected["kept"]:
        problems.append(f"{lines} lines, want {expected['kept']}")
    if other:
        problems.append(f"{other} rows with DeviceType Other")
    if fallback != expected["fallback"]:
        problems.append(f"{fallback} fallback rows, want {expected['fallback']}")
    if dict(race) != expected["race_ids"]:
        problems.append(f"RaceID counts {dict(race)}, want {expected['race_ids']}")
    if dict(location) != expected["locations"]:
        wrong = sorted(set(location.items()) ^ set(expected["locations"].items()))
        problems.append(f"LocationData counts differ: {wrong[:6]}")
    return problems


# --------------------------------------------------------------------------
# Query-board tables
# --------------------------------------------------------------------------

P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector "
         "window").split()
LANGS = [("en", 44), ("zh", 14), ("es", 14), ("de", 14), ("fr", 14)]
EMBED_DIM = 64


def _ts(epoch_us):
    return pa.array(epoch_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    return base + rng.integers(0, n_days, n).astype(np.int64) * 86_400_000_000


def gen_tables(seed, sf, out_dir):
    """Write the ten board tables as ``<out_dir>/<name>.parquet``; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = 500 if sf <= 0.01 else 5000
    n_emb = 500 if sf <= 0.01 else 2000
    n_users = 150 if sf <= 0.01 else 1500
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": [P_TYPES[t] for t in rng.integers(0, 6, n_part)],
                 "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)},
    }
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts(_days(rng, "1995-01-01", 2405, n_ord)),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]}
    qty = rng.integers(1, 51, n_line).astype(float)
    ship = _days(rng, "1995-01-02", 2499, n_line)
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[f] for f in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(ship)}
    # events: sorted timestamps with exponential gaps over 30 days
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ev_us = (np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)).astype(np.int64)
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_us),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    # documents: random word streams, ~5% near-duplicates (a copy + " dup")
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    # embeddings: unit vectors around one centroid per label
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = 1.2 * centroids[labels] + rng.normal(0, 1, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))}

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = t.num_rows
    return rows


def main():
    ap = argparse.ArgumentParser(description="write a benchmark run's inputs")
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")) as f:
        spec = json.load(f)
    fan = gen_fan(a.seed, spec["fan_rows"], os.path.join(a.out_dir, "fan"))
    rows = gen_tables(a.seed, spec["sf"], os.path.join(a.out_dir, "tables"))
    print(json.dumps({"fan": fan["expected"], "tables": rows}))


if __name__ == "__main__":
    main()
