"""Seeded inputs for the benchmark.

`write_tables` writes the ten star-schema tables the registry queries scan
(`sources.readers.TABLES`), with the pinned physical schema of
`sources.readers.EXPECTED_SCHEMAS` and row counts proportional to a scale
factor. Column values are independent uniform draws over the same domains
as the reference testdata, so every query's filters and joins select a
similar share of rows.

`landing_batch` produces one daily load's landed payloads: SoilGrids-shaped
JSON per location, Open-Meteo parallel-array JSON per location and
crop-requirement text, with a seeded share of changed location attributes.
`write_base_warehouse` writes the warehouse the first batch loads into.

The same seed always gives the same bytes of input.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "row the query stream key agg scan slow table part a merge window order "
    "column join vector value hash batch sort data big filter fast spark line "
    "small customer group"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DUP_SHARE = 0.05  # documents that repeat an earlier one with a " dup" tail


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor `sf` (the reference testdata's
    proportions: sf0.01 has 60,000 lineitems and 500 documents)."""
    return {
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "users": max(5, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    """Midnight timestamps (µs) `offsets` days after `start`."""
    return pa.array(np.datetime64(start, "us") + offsets.astype("timedelta64[D]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng, n):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}


def _nation(rng, n):
    return {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }


def _customer(rng, n):
    nc = n["customer"]
    return {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    }


def _supplier(rng, n):
    ns = n["supplier"]
    return {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, ns)),
    }


def _part(rng, n):
    keys = np.arange(n["part"])
    return {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, len(keys)),
                                       rng.choice(NOUNS, len(keys)))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, len(keys))]),
        "p_type": pa.array(rng.choice(PART_TYPES, len(keys))),
        "p_size": pa.array(rng.integers(1, 51, len(keys)), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    }


def _orders(rng, n):
    no = n["orders"]
    return {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUSES, no)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, no)),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, no)),  # .. 2001-08-01
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    }


def _lineitem(rng, n):
    nl = n["lineitem"]
    return {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, nl)),  # .. 2001-11-04
    }


def _events(rng, n):
    ne = n["events"]
    gaps_s = rng.exponential(30 * 86_400 / ne, ne)  # 30 days of events
    us = np.floor(np.cumsum(gaps_s) * 1e6).astype(np.int64)
    return {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(_money(rng, 0.01, 490.0, ne)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }


def _documents(rng, n):
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n):
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 0.02, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.125, (nv, 64))).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(out_dir: str, sf: float, seed: int, tables=tuple(BUILDERS)) -> None:
    """Write each of `tables` as `<out_dir>/<name>.parquet`. Each table
    draws from its own stream of the seed, so any subset is identical to
    the same tables of the full set."""
    os.makedirs(out_dir, exist_ok=True)
    n = row_counts(sf)
    for name in tables:
        rng = np.random.default_rng([seed, 1, list(BUILDERS).index(name)])
        pq.write_table(pa.table(BUILDERS[name](rng, n)), os.path.join(out_dir, f"{name}.parquet"))


# ----------------------------------------------------------- landed batches

CROP_TEXT = (
    "{Crop} ({latin}) requires optimal temperatures between {tlo}°C and "
    "{thi}°C [{ref}]. It needs approximately {wlo}-{whi} mm per day of "
    "water, full sun exposure of {slo}-{shi} hours daily and soil pH "
    "between {plo} and {phi}. Also see https://example.org/{crop} for more."
)


CHANGED_SHARE = 0.1  # existing locations reporting a new region
NEW_SHARE = 0.02  # brand-new locations per batch, relative to existing ones
RESENT_SHARE = 0.2  # crop texts repeating the previous batch's (at most half)


def landing_batch(
    out_dir: str, seed: int, batch: int, regions: list[str], n_days: int, n_texts: int,
) -> dict:
    """Land batch `batch`'s payloads under `out_dir` as three JSON-lines
    files; return the counts the load should report and the regions after
    the batch.

    `regions[k]` is location k's current `region_name`. Every location
    reports, a `CHANGED_SHARE` of them with a new region (a tracked SCD2
    attribute), plus a `NEW_SHARE` of brand-new locations.

    - `soil.json`: one SoilGrids payload per location.
    - `weather.json`: per existing location, `n_days` of daily parallel
      arrays starting one day before the batch's week, so each batch
      re-sends the previous batch's last day (an upsert update).
    - `crops.json`: `n_texts` crop-requirement texts, a `RESENT_SHARE` of
      them repeating texts the previous batch inserted (dropped by the
      insert-if-absent gate).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2, batch])
    n_locations = len(regions)
    n_new = int(n_locations * NEW_SHARE)
    keys = np.concatenate([
        np.arange(n_locations),
        n_locations + 1000 * (batch + 1) + np.arange(n_new),
    ])
    changed = rng.random(n_locations) < CHANGED_SHARE
    new_regions = [f"REGION_B{batch}" if c else r for r, c in zip(regions, changed)]
    segment = new_regions + [str(r) for r in rng.choice(SEGMENTS, n_new)]
    with open(os.path.join(out_dir, "soil.json"), "w") as fh:
        for k, seg in zip(keys.tolist(), segment):
            clay, sand = rng.uniform(5, 50), rng.uniform(10, 45)
            layers = [
                {"name": "clay", "depths": [{"label": "0-5cm", "values": {"mean": round(clay, 2)}}]},
                {"name": "sand", "depths": [{"label": "0-5cm", "values": {"mean": round(sand, 2)}}]},
                {"name": "silt", "depths": [{"label": "0-5cm", "values": {"mean": round(100 - clay - sand, 2)}}]},
                # a third of the pH readings arrive x10-scaled
                {"name": "phh2o", "depths": [{"label": "0-5cm", "values": {
                    "mean": round(float(rng.uniform(4.5, 8.5)) * (10 if rng.random() < 0.33 else 1), 2)}}]},
            ]
            fh.write(json.dumps({
                "location_key": k,
                "latitude": round((k % 17000) / 100.0 - 85.0, 2),
                "longitude": round((k % 35000) / 100.0 - 175.0, 2),
                "region_name": seg,
                "payload": json.dumps({"properties": {"layers": layers}}),
            }) + "\n")
    start = dt.date(2024, 1, 1) + dt.timedelta(days=7 * batch - 1)
    days = [(start + dt.timedelta(days=i)).isoformat() for i in range(n_days)]
    with open(os.path.join(out_dir, "weather.json"), "w") as fh:
        for k in range(n_locations):
            tmax = rng.uniform(-5, 35, n_days)
            # a tenth of the stations report Fahrenheit
            scale = (lambda t: t * 9 / 5 + 32) if rng.random() < 0.1 else (lambda t: t)
            fh.write(json.dumps({
                "location_key": k,
                "daily": {
                    "time": days,
                    "temperature_2m_max": [round(float(scale(t)), 2) for t in tmax],
                    "temperature_2m_min": [round(float(scale(t - rng.uniform(3, 12))), 2) for t in tmax],
                    "precipitation_sum": [round(float(p), 2) for p in rng.exponential(3.0, n_days)],
                    "relative_humidity_2m_mean": [round(float(h), 1) for h in rng.uniform(20, 100, n_days)],
                },
            }) + "\n")
    crops = ["wheat", "maize", "rice", "soybean", "potato", "barley", "sorghum", "cassava"]
    with open(os.path.join(out_dir, "crops.json"), "w") as fh:
        n_resent = int(n_texts * RESENT_SHARE)
        for i in range(n_texts):
            crop = crops[int(rng.integers(0, len(crops)))]
            tlo = int(rng.integers(10, 25))
            wlo = int(rng.integers(2, 8))
            slo = int(rng.integers(4, 9))
            plo = round(float(rng.uniform(4.5, 6.5)), 1)
            resent = batch > 0 and i < n_resent
            fh.write(json.dumps({
                # a re-sent text repeats one the previous batch inserted
                "text_id": ((batch - 1) * 1_000_000 + n_resent + i) if resent
                else batch * 1_000_000 + i,
                "crop_name": crop,
                "raw_text": CROP_TEXT.format(
                    Crop=crop.capitalize(), latin=f"{crop}us sativus", crop=crop,
                    tlo=tlo, thi=tlo + int(rng.integers(3, 10)), ref=int(rng.integers(1, 9)),
                    wlo=wlo, whi=wlo + int(rng.integers(1, 4)),
                    slo=slo, shi=slo + int(rng.integers(1, 4)),
                    plo=plo, phi=round(plo + float(rng.uniform(0.5, 1.5)), 1),
                ),
            }) + "\n")
    return {
        "locations": len(keys),
        "changed": int(changed.sum()),
        "new": n_new,
        "weather_rows": n_locations * n_days,
        "texts": n_texts,
        "texts_new": n_texts - (n_resent if batch > 0 else 0),
        "regions": new_regions,
    }


# ------------------------------------------------------- base warehouse


def write_base_warehouse(root: str, seed: int, regions: list[str],
                         crops: list[tuple], n_facts: int) -> int:
    """The warehouse the first daily batch loads into: `dim_location`
    (one current row per location, region `regions[k]`), `dim_crop`
    (`crops`: name, optimal min/max temperature) and `fact_weather`, about
    `n_facts` daily rows for 100 stations over 1995–2001, partitioned by
    year and month like the package's own warehouse. Returns the fact row
    count."""
    import pyarrow.dataset as ds

    rng = np.random.default_rng([seed, 3])
    keys = np.arange(len(regions))
    lat = np.round((keys % 17000) / 100.0 - 85.0, 2)
    lon = np.round((keys % 35000) / 100.0 - 175.0, 2)
    os.makedirs(f"{root}/dim_location", exist_ok=True)
    pq.write_table(pa.table({
        "location_key": pa.array(keys, pa.int64()),
        "location_hash": pa.array([
            hashlib.md5(f"{a:.6f},{o:.6f}".encode()).hexdigest() for a, o in zip(lat, lon)
        ]),
        "latitude": pa.array(lat), "longitude": pa.array(lon),
        "region_name": pa.array(regions),
        "country_code": pa.array(["US"] * len(keys)),
        "effective_date": pa.array([dt.date(2024, 1, 1)] * len(keys), pa.date32()),
        "expiration_date": pa.nulls(len(keys), pa.date32()),
        "is_current": pa.array([True] * len(keys)),
    }), f"{root}/dim_location/part-0.parquet")
    os.makedirs(f"{root}/dim_crop", exist_ok=True)
    pq.write_table(pa.table({
        "crop_key": pa.array(range(1, len(crops) + 1), pa.int64()),
        "crop_name": pa.array([c[0] for c in crops]),
        "optimal_temp_min_c": pa.array([float(c[1]) for c in crops]),
        "optimal_temp_max_c": pa.array([float(c[2]) for c in crops]),
    }), f"{root}/dim_crop/part-0.parquet")
    pairs = np.unique(np.stack([
        rng.integers(0, 2556, n_facts),  # days after 1995-01-01, through 2001
        rng.integers(0, 100, n_facts),
    ], axis=1), axis=0)
    days = np.datetime64("1995-01-01") + pairs[:, 0].astype("timedelta64[D]")
    tmax = np.round(rng.uniform(-5, 35, len(pairs)), 2)
    tmin = np.round(tmax - rng.uniform(3, 12, len(pairs)), 2)
    ymd = days.astype(object)
    ds.write_dataset(pa.table({
        "date_key": pa.array([int(d.strftime("%Y%m%d")) for d in ymd], pa.int32()),
        "location_key": pa.array(pairs[:, 1], pa.int64()),
        "temp_max_c": pa.array(tmax), "temp_min_c": pa.array(tmin),
        "temp_mean_c": pa.array((tmax + tmin) / 2.0),
        "precipitation_mm": pa.array(np.round(rng.exponential(3.0, len(pairs)), 2)),
        "humidity_percent": pa.array(np.round(rng.uniform(20, 100, len(pairs)), 1)),
        "wind_speed_ms": pa.array(np.round(rng.uniform(0, 10, len(pairs)), 1)),
        "weather_code": pa.array(rng.integers(0, 100, len(pairs)), pa.int32()),
        "batch_id": pa.array(["base"] * len(pairs)),
        "year": pa.array([d.year for d in ymd], pa.int32()),
        "month": pa.array([d.month for d in ymd], pa.int32()),
    }), f"{root}/fact_weather", format="parquet",
        partitioning=ds.partitioning(pa.schema([("year", pa.int32()), ("month", pa.int32())]),
                                     flavor="hive"))
    return len(pairs)
