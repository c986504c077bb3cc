"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes (BLAKE2b or numpy's PCG64 streams keyed by [seed, purpose,
...] and pyarrow's deterministic parquet writer). Inputs are written once per
seed, before the JVM starts, and each writes a `shape.json` describing
what it produced.

- `weather`: the paper's raw zone. 14 Canary-Islands stations in both
  reference shapes under `<island>/<location>/`: Open-Meteo parallel
  arrays (`2*.json`) and Visual Crossing array-of-structs (`vc*.json`).
  A bulk range from 2021-01-01 plus a sequence of 31-day update batches
  that revise existing days and append new ones. Some VC days are
  missing (the inner join drops them) and some values are null.
- `corpus`: a `documents` table (the test tables' schema) whose docs
  reach every stage of the corpus ladder (C4 lines, Gopher flags,
  unigram-LM filter, fuzzy dedup).
"""
import datetime as dt
import functools
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATIONS = [
    # (island, location_name, latitude, longitude, elevation)
    ("Gran_Canaria", "Las_Palmas_de_Gran_Canaria", 28.0997, -15.4134, 8.0),
    ("Gran_Canaria", "Maspalomas", 27.7606, -15.5860, 12.0),
    ("Gran_Canaria", "Agaete", 28.1000, -15.7000, 43.0),
    ("Tenerife", "Santa_Cruz_de_Tenerife", 28.4636, -16.2518, 4.0),
    ("Tenerife", "Vilaflor", 28.1570, -16.6360, 1400.0),
    ("Tenerife", "Puerto_de_la_Cruz", 28.4140, -16.5480, 9.0),
    ("Lanzarote", "Arrecife", 28.9630, -13.5477, 18.0),
    ("Lanzarote", "Haria", 29.1450, -13.4990, 275.0),
    ("Fuerteventura", "Puerto_del_Rosario", 28.5004, -13.8627, 20.0),
    ("Fuerteventura", "Morro_Jable", 28.0500, -14.3500, 15.0),
    ("La_Palma", "Santa_Cruz_de_La_Palma", 28.6835, -17.7642, 5.0),
    ("La_Palma", "Los_Llanos_de_Aridane", 28.6585, -17.9182, 350.0),
    ("La_Gomera", "San_Sebastian_de_La_Gomera", 28.0916, -17.1133, 10.0),
    ("El_Hierro", "Valverde", 27.8063, -17.9158, 600.0),
]
WX_START = dt.date(2021, 1, 1)
CONDITIONS = [("Clear", "clear-day", "Clear conditions throughout the day."),
              ("Partially cloudy", "partly-cloudy-day", "Partly cloudy in the morning."),
              ("Overcast", "cloudy", "Cloudy skies throughout the day."),
              ("Rain", "rain", "Rain in the afternoon.")]
OM_FIELDS = ["weather_code", "temperature_2m_max", "temperature_2m_min",
             "sunshine_duration", "precipitation_sum"]


def _rng(*key):
    return np.random.default_rng([int(k) for k in key])


def _uniforms(*key):
    """16 uniforms in [0, 1) keyed by the integers `key` (a hash, which is
    much cheaper than seeding a generator per station-day)."""
    h = hashlib.blake2b(",".join(str(int(k)) for k in key).encode(), digest_size=64)
    return np.frombuffer(h.digest(), dtype="<u4") / 2.0 ** 32


@functools.lru_cache(maxsize=None)
def _day_values(seed, s, day, version):
    """One station-day of both shapes at a given revision version.
    Returns (om dict, vc dict or None when VC lacks the day)."""
    u = _uniforms(seed, 1, s, day, version)
    doy = (WX_START + dt.timedelta(days=day)).timetuple().tm_yday
    season = np.cos(2 * np.pi * (doy - 200) / 365.0)
    tmax = round(23.0 - 3.5 * season + 4 * u[0] - STATIONS[s][4] / 250.0, 1)
    om = {
        "weather_code": int(u[1] * 4) if u[1] < 0.9 else int(u[1] * 70),
        "temperature_2m_max": tmax,
        "temperature_2m_min": round(tmax - 4.0 - 4 * u[2], 1),
        "sunshine_duration": round(18000.0 + 18000.0 * u[3] - 4000.0 * season, 1),
        "precipitation_sum": round(max(0.0, 12 * u[4] - 9), 1),
    }
    for i, f in enumerate(["temperature_2m_min", "sunshine_duration", "precipitation_sum"]):
        if u[5 + i] < 0.02:
            om[f] = None
    if u[8] < 0.03:  # VC is missing this day: the inner join drops it
        return om, None
    c = CONDITIONS[int(u[9] * len(CONDITIONS))]
    vc = {
        "cloudcover": round(100 * u[10], 1),
        "visibility": round(5 + 10 * u[11], 1),
        "solarradiation": round(60 + 200 * u[12], 1),
        "solarenergy": round(5 + 17 * u[12], 1),
        "uvindex": float(int(1 + 10 * u[13])),
        "moonphase": round(((day % 30) / 30.0), 2),
        "conditions": c[0], "description": c[2], "icon": c[1],
    }
    if u[14] < 0.02:
        vc["uvindex"] = None
    if u[15] < 0.02:
        vc["cloudcover"] = None
    return om, vc


def _write_station_files(root, seed, s, days, version):
    island, loc, lat, lon, elev = STATIONS[s]
    d = os.path.join(root, island, loc)
    os.makedirs(d, exist_ok=True)
    first = WX_START + dt.timedelta(days=days[0])
    last = WX_START + dt.timedelta(days=days[-1])
    tag = f"{first.isoformat()}-to-{last.isoformat()}"
    daily = {"date": []}
    for f in OM_FIELDS:
        daily[f] = []
    vc_days = []
    for day in days:
        om, vc = _day_values(seed, s, day, version)
        date = (WX_START + dt.timedelta(days=day)).isoformat()
        daily["date"].append(date)
        for f in OM_FIELDS:
            daily[f].append(om[f])
        if vc is not None:
            vc_days.append(dict(datetime=date, **vc))
    om_doc = {"location": f"{island}/{loc}", "latitude": lat, "longitude": lon,
              "elevation": elev, "timezone": "Atlantic/Canary", "daily": daily}
    vc_doc = {"queryCost": len(days), "latitude": lat, "longitude": lon,
              "resolvedAddress": f"{lat},{lon}", "address": f"{lat},{lon}",
              "timezone": "Atlantic/Canary", "tzoffset": 0.0, "days": vc_days}
    with open(os.path.join(d, tag + ".json"), "w") as fh:
        fh.write(json.dumps(om_doc))
    with open(os.path.join(d, "vc" + tag + ".json"), "w") as fh:
        fh.write(json.dumps(vc_doc))


def weather_windows(bulk_days, batches, window=31, step=14):
    """Day ranges: the bulk load, then `batches` update windows of
    `window` days, each ending `step` days after the previous end (so it
    revises window-step existing days and appends step new ones)."""
    out = [list(range(bulk_days))]
    end = bulk_days - 1
    for _ in range(batches):
        end += step
        out.append(list(range(end - window + 1, end + 1)))
    return out


def gen_weather(out, seed, bulk_days=730, batches=24):
    wins = weather_windows(bulk_days, batches)
    for k, days in enumerate(wins):
        root = os.path.join(out, "bulk" if k == 0 else f"batch_{k:03d}")
        for s in range(len(STATIONS)):
            _write_station_files(root, seed, s, days, version=k)
    rows = weather_truth(seed, bulk_days, batches, 0)
    shape = {"stations": len(STATIONS), "bulk_days": bulk_days,
             "batches": batches, "window_days": 31, "step_days": 14,
             "bulk_rows": len(rows),
             "bulk_partitions": len({(r[0], r[1], r[2].year, r[2].month) for r in rows}),
             "files_per_batch": 2 * len(STATIONS),
             "batch_rows": [len(weather_batch_rows(seed, days, k))
                            for k, days in enumerate(wins) if k > 0]}
    with open(os.path.join(out, "shape.json"), "w") as fh:
        json.dump(shape, fh)
    return shape


def weather_batch_rows(seed, days, version):
    """The joined (OM inner VC) rows one raw batch yields, keyed by
    (location_name, date)."""
    rows = {}
    for s, (island, loc, _, _, _) in enumerate(STATIONS):
        for day in days:
            om, vc = _day_values(seed, s, day, version)
            if vc is not None:
                date = WX_START + dt.timedelta(days=day)
                rows[(loc, date)] = (island, loc, date, om, vc)
    return rows


def weather_truth(seed, bulk_days, batches, applied):
    """Last-writer-wins clean table after the bulk load and the first
    `applied` update batches: a list of (island, location_name, date,
    om, vc) rows."""
    wins = weather_windows(bulk_days, batches)
    table = {}
    for k, days in enumerate(wins[:applied + 1]):
        table.update(weather_batch_rows(seed, days, k))
    return list(table.values())


# --- corpus -----------------------------------------------------------------

COMMON = ["spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def _rare_vocab(seed, n=400):
    r = _rng(seed, 2)
    letters = np.array(list("bcdfghklmnprstvz"))
    vowels = np.array(list("aeiou"))
    words = []
    while len(words) < n:
        k = int(r.integers(2, 4))
        w = "".join(letters[r.integers(0, len(letters))] + vowels[r.integers(0, 5)]
                    for _ in range(k))
        if w not in words and w not in COMMON:
            words.append(w)
    return words


def corpus_texts(seed, n_docs):
    """Document texts shaped to keep every corpus stage populated. The
    key's LM threshold sits near the mean token log-prob, so docs drawn
    from the frequent half of the vocabulary pass it and docs drawn from
    all of it (plus rare words) do not. Short docs fail the C4 line
    rules, symbol-heavy docs fail Gopher, and near-duplicates of earlier
    docs are what fuzzy dedup removes."""
    r = _rng(seed, 3)
    rare = _rare_vocab(seed)
    frequent = COMMON[:13] + ["the", "a"]
    texts, originals = [], []
    for i in range(n_docs):
        kind = r.random()
        if i > 20 and kind < 0.18:
            # near-duplicate of an earlier original (never of a duplicate,
            # so clusters stay stars and connected components converge in
            # the same number of rounds whatever the seed)
            src = texts[originals[int(r.integers(0, len(originals)))]].split(" ")
            for _ in range(max(1, len(src) // 25)):
                src[int(r.integers(0, len(src)))] = frequent[int(r.integers(0, 15))]
            texts.append(" ".join(src))
            continue
        originals.append(i)
        short = kind < 0.28
        n = int(r.integers(14, 34)) if short else int(r.integers(40, 130))
        if kind < 0.65:
            words = [frequent[int(x)] for x in r.integers(0, 15, n)]
        else:
            words = [rare[int(r.integers(0, len(rare)))] if r.random() < 0.05
                     else COMMON[int(r.integers(0, 30))] for _ in range(n)]
        if 0.60 <= kind < 0.65:  # symbol / digit noise: Gopher drops these
            for j in range(0, n, 3):
                words[j] = "#" + str(int(r.integers(0, 999)))
        texts.append(" ".join(words))
    return texts


def documents_table(seed, n_docs):
    r = _rng(seed, 4)
    texts = corpus_texts(seed, n_docs)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in r.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{int(x)}" for x in r.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_corpus(out, seed, n_docs=500):
    os.makedirs(out, exist_ok=True)
    pq.write_table(documents_table(seed, n_docs), os.path.join(out, "documents.parquet"))
    shape = {"documents": n_docs}
    with open(os.path.join(out, "shape.json"), "w") as fh:
        json.dump(shape, fh)
    return shape
