"""Seeded input generator for the benchmark workloads.

Everything is derived from ``numpy.random.default_rng(seed)`` in one
process with no threads, so one seed always yields byte-identical files
and the engine sees nothing but the files. Two input sets:

* ``write_star_corpus`` — the ten driver-fixture tables (TPC-H-like
  star schema, ``events``, ``documents``, ``embeddings``) with the
  fixture schemas, written like the fixtures (pyarrow, one row group,
  zone-less microsecond timestamps). Keys are dense ``0..n-1`` per
  table and every foreign key is drawn from its parent's key range, so
  PK/FK integrity holds for every seed.
* ``write_lake_landing`` — the reference pipeline's landing files: one
  weather-poll file per ingest cycle for a single city (strictly
  increasing 15-minute timeline, so ``meteor_proc``'s ``(date, time)``
  key is unique) with seeded re-deliveries of earlier polls, and one
  locality batch per cycle with re-delivered ids (some with changed
  attributes, which the lake's id dedup drops) and occasional new ids.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2

# Row counts per unit of scale factor, as in the driver fixtures
# (sf0.01: lineitem 60k, orders 15k, customer 1.5k, part 2k, ...).
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "small", "large", "shiny", "black", "white"]
_NOUNS = ["widget", "bolt", "ring", "gear", "panel", "valve", "spring", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "hash order table window row batch big group a spark filter sort join line "
    "data column key merge agg small scan vector stream value customer slow part "
    "fast query the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_EMBED_DIM = 64

_TS = pa.timestamp("us")
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _micros(day0: str, offsets_us: np.ndarray) -> np.ndarray:
    return (np.datetime64(day0, "us") - _EPOCH).astype(np.int64) + offsets_us


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` for ``seed``."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(c * sf))) for t, c in _PER_SF.items()}
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    colors = np.array(_COLORS)[rng.integers(0, len(_COLORS), npart)]
    nouns = np.array(_NOUNS)[rng.integers(0, len(_NOUNS), npart)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": np.char.add(np.char.add(colors, " "), nouns),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": np.array(_TYPES)[rng.integers(0, len(_TYPES), npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 2000) * 0.1, 2),
        }
    )
    no = n["orders"]
    order_day = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000, 500_000, no),
            "o_orderdate": pa.array(
                _micros("1995-01-01", order_day * 86_400_000_000), _TS
            ),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    ship_day = order_day[l_order] + rng.integers(1, 122, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900, 2100, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(_micros("1995-01-01", ship_day * 86_400_000_000), _TS),
        }
    )
    ne = n["events"]
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(_micros("2024-01-01", ev_ts), _TS),
            "user_id": pa.array(rng.integers(0, max(2, nc // 10), ne), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": _money(rng, 0, 20, ne),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _copy_kinds(rng, n: int) -> np.ndarray:
    """0 = fresh row, 1 = exact copy, 2 = near copy of an earlier row:
    exactly a tenth each (row 0 is always fresh), so every seed gives the
    dedup and similarity operators the same amount of work."""
    kinds = np.zeros(n, dtype=np.int8)
    picked = rng.choice(np.arange(1, n), size=2 * (n // 10), replace=False) if n > 1 else []
    kinds[picked[: n // 10]] = 1
    kinds[picked[n // 10 :]] = 2
    return kinds


def _documents(rng, nd: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; a tenth are exact
    copies and a tenth near-copies (prefix or one-word edit) of an
    earlier document."""
    texts: list[str] = []
    for i, kind in enumerate(_copy_kinds(rng, nd)):
        if kind == 1:
            texts.append(texts[int(rng.integers(0, i))])
        elif kind == 2:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5 and len(words) > 12:
                words = words[: int(rng.integers(len(words) // 2, len(words)))]
            else:
                words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(len(_LANGS), nd, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng, nv: int) -> pa.Table:
    """Unit vectors; a fifth are small perturbations of an earlier
    vector (near-duplicates for the cosine operators)."""
    m = rng.standard_normal((nv, _EMBED_DIM)).astype(np.float32)
    for i in np.flatnonzero(_copy_kinds(rng, nv)):
        m[i] = m[int(rng.integers(0, i))] + 0.02 * rng.standard_normal(_EMBED_DIM)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(m.ravel(), pa.float32()), _EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )


def write_star_corpus(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_corpus_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# lake_etl landing files
# --------------------------------------------------------------------------

#: landing weather schema: WEATHER_RAW with ``time`` parsed, plus the
#: ingest-added ``api_loc_id`` and the ``fecha_partic`` partition key
WEATHER_FIELDS = [
    ("time", pa.timestamp("us", tz="UTC")),
    ("interval", pa.int64()),
    ("temperature_2m", pa.float64()),
    ("relativehumidity_2m", pa.float64()),
    ("apparent_temperature", pa.float64()),
    ("is_day", pa.int64()),
    ("precipitation", pa.float64()),
    ("rain", pa.float64()),
    ("pressure_msl", pa.float64()),
    ("windspeed_10m", pa.float64()),
    ("winddirection_10m", pa.float64()),
    ("windgusts_10m", pa.float64()),
    ("api_loc_id", pa.int64()),
    ("fecha_partic", pa.string()),
]
LOCALITY_FIELDS = [
    ("id", pa.int64()),
    ("name", pa.string()),
    ("latitude", pa.float64()),
    ("longitude", pa.float64()),
    ("elevation", pa.float64()),
    ("feature_code", pa.string()),
    ("country_code", pa.string()),
    ("admin1_id", pa.string()),
    ("admin2_id", pa.string()),
    ("admin3_id", pa.string()),
    ("admin4_id", pa.string()),
    ("timezone", pa.string()),
    ("population", pa.float64()),
    ("postcodes", pa.list_(pa.string())),
    ("country_id", pa.int64()),
    ("country", pa.string()),
    ("admin1", pa.string()),
    ("admin2", pa.string()),
    ("admin3", pa.string()),
    ("admin4", pa.string()),
]
_WIND_PINS = [0.0, 90.0, 180.0, 270.0, 360.0, 45.0, 135.0, 225.0, 315.0]
_CITIES = ["Cordoba", "Rosario", "Mendoza", "Salta", "Parana", "Neuquen", "Jujuy", "Tandil"]


def _locality(rng, loc_id: int, name: str) -> dict:
    admins = [
        None if rng.random() < 0.25 else "None" if rng.random() < 0.3 else f"A{int(rng.integers(1, 99))}"
        for _ in range(4)
    ]
    k = int(rng.integers(0, 3))
    return {
        "id": loc_id,
        "name": name,
        "latitude": float(np.round(rng.uniform(-55, -22), 5)),
        "longitude": float(np.round(rng.uniform(-73, -53), 5)),
        "elevation": None if rng.random() < 0.2 else float(np.round(rng.uniform(0, 3000), 1)),
        "feature_code": "PPLA",
        "country_code": "AR",
        "admin1_id": str(int(rng.integers(3_000_000, 4_000_000))),
        "admin2_id": "nan" if rng.random() < 0.3 else str(int(rng.integers(1_000, 9_999))),
        "admin3_id": None,
        "admin4_id": None,
        "timezone": "America/Argentina/Cordoba",
        "population": None if rng.random() < 0.2 else float(rng.integers(10_000, 2_000_000)),
        "postcodes": None if k == 0 else [str(int(rng.integers(1000, 9999))) for _ in range(k)],
        "country_id": 3865483,
        "country": "Argentina",
        "admin1": admins[0],
        "admin2": admins[1],
        "admin3": admins[2],
        "admin4": admins[3],
    }


def lake_cycle_date(cycle: int) -> dt.date:
    """The synthetic load/merge date of ingest cycle ``cycle``."""
    return dt.date(2024, 3, 1) + dt.timedelta(days=cycle)


def lake_landing(seed: int, cycles: int, polls_per_cycle: int) -> list[tuple[pa.Table, pa.Table]]:
    """Per cycle: (weather landing table, locality batch table)."""
    rng = np.random.default_rng(seed)
    base_id = 3_860_000 + int(rng.integers(0, 10_000)) * 10
    locs = [_locality(rng, base_id + i, _CITIES[i]) for i in range(4)]
    next_new = 4
    city_id = locs[0]["id"]
    t0 = (np.datetime64("2024-03-01T00:00:00", "us") - _EPOCH).astype(np.int64)
    step = 900 * 1_000_000
    # one weather draw per poll index, so a re-delivery is identical
    w = np.random.default_rng([seed, 7919]).standard_normal((cycles * polls_per_cycle, 4))
    out = []
    for c in range(cycles):
        idx = np.arange(c * polls_per_cycle, (c + 1) * polls_per_cycle)
        if c > 0:  # re-deliver a few polls from earlier cycles, verbatim
            again = rng.integers(max(0, idx[0] - 2 * polls_per_cycle), idx[0], 4)
            idx = np.concatenate([idx, again, idx[:2]])  # + in-file repeats
        ts = t0 + idx * step
        hour = (ts // 3_600_000_000) % 24
        temp = np.round(15 + 8 * w[idx, 0], 2)
        precip = np.round(np.maximum(0, w[idx, 1]) * 2, 2)
        speed = np.round(np.abs(w[idx, 2]) * 12, 1)
        wind = np.where(
            idx % 7 == 0,
            np.array(_WIND_PINS)[idx % len(_WIND_PINS)],
            np.round((w[idx, 3] * 1e4) % 360, 1),
        )
        days = (ts // 86_400_000_000).astype("datetime64[D]").astype(object)
        weather = pa.table(
            {
                "time": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "interval": pa.array(np.full(len(idx), 900), pa.int64()),
                "temperature_2m": temp,
                "relativehumidity_2m": np.round(60 + 20 * np.tanh(w[idx, 1]), 1),
                "apparent_temperature": np.round(temp + w[idx, 2], 2),
                "is_day": pa.array(((hour >= 7) & (hour < 20)).astype(np.int64), pa.int64()),
                "precipitation": precip,
                "rain": np.round(precip * 0.8, 2),
                "pressure_msl": np.round(1013 + 10 * w[idx, 3], 1),
                "windspeed_10m": speed,
                "winddirection_10m": wind,
                "windgusts_10m": np.round(speed * 1.5, 1),
                "api_loc_id": pa.array(np.full(len(idx), city_id), pa.int64()),
                "fecha_partic": [d.strftime("%m-%d-%y") for d in days],
            },
            schema=pa.schema(WEATHER_FIELDS),
        )
        batch = []
        for loc in locs:  # the full geocoding batch is re-delivered
            if rng.random() < 0.3:
                loc = {**loc, "population": float(rng.integers(10_000, 2_000_000))}
            batch.append(loc)
        if c % 3 == 2 and next_new < len(_CITIES):
            new = _locality(rng, base_id + next_new, _CITIES[next_new])
            locs.append(new)
            batch.append(new)
            next_new += 1
        localities = pa.Table.from_pylist(batch, schema=pa.schema(LOCALITY_FIELDS))
        out.append((weather, localities))
    return out


def write_lake_landing(out_dir: str, seed: int, cycles: int, polls_per_cycle: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for c, (weather, localities) in enumerate(lake_landing(seed, cycles, polls_per_cycle)):
        _write(weather, os.path.join(out_dir, f"weather_{c:04d}.parquet"))
        _write(localities, os.path.join(out_dir, f"localities_{c:04d}.parquet"))
