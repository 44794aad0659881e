"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pandas: the program under test only ever
sees the parquet files these functions write. The same seed always gives
byte-identical frames; different seeds give different values.

* ``grid_tables`` — the ETL job's inputs, in the schema of
  ``w4h_etl_container_spark.sources.gridgen`` (run, previous snapshot,
  near-land mask, status, source listing) on a 0.25-degree grid.
* ``lake_batch`` — the lakehouse workload's stream of overlapping
  6-hourly forecast runs keyed on (lat, lon, ts).
* ``gate_tables`` — the relational fixture tables the gate queries read
  (region .. embeddings), at a chosen scale factor.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# The forecast stage's default retention cutoff is 2026-07-31T19:00
# (``run_forecast(earliest_necessary=...)``). The new run starts six hours
# after it; the previous snapshot starts twelve hours before the new run,
# so its first six hours fall before the cutoff and are clipped.
T0 = pd.Timestamp("2026-08-01T01:00:00")
PREV_LEAD_HOURS = 12
VALUE_COLS = [
    "tmp2m", "dpt2m", "ugrd10m", "vgrd10m",
    "dswrfsfc", "dlwrfsfc", "uswrfsfc", "ulwrfsfc",
]


def grid_axes(n_lat: int, n_lon: int, step: float = 0.25) -> tuple[np.ndarray, np.ndarray]:
    """Latitudes centred on the equator; longitudes east from 0 plus a
    western block below 360, so the cyclic seam (lon 0) and negative hour
    angles both occur, as in the reference grid."""
    lat = np.round(np.arange(n_lat) * step - (n_lat // 2) * step, 4)
    n_east = n_lon - n_lon // 3
    east = np.arange(n_east) * step
    west = 360.0 - np.arange(n_lon - n_east, 0, -1) * step
    return lat, np.round(np.concatenate([east, west]), 4)


def _long_form(lat: np.ndarray, lon: np.ndarray, ts: pd.DatetimeIndex):
    la, lo, tt = np.meshgrid(lat, lon, np.arange(len(ts)), indexing="ij")
    return la.ravel(), lo.ravel(), tt.ravel(), ts.values[tt.ravel()]


def _weather(rng, la, lo, hours) -> dict[str, np.ndarray]:
    """Smooth diurnal fields with seeded noise, in the units GFS uses."""
    local_hour = (hours + lo / 15.0) % 24.0
    diurnal = np.cos((local_hour - 14.0) / 24.0 * 2.0 * np.pi)
    t2 = 290.0 + 10.0 * diurnal + 6.0 * np.cos(np.radians(la * 3.0)) + rng.normal(0, 1.0, la.shape)
    dpt = t2 - np.abs(rng.normal(4.0, 2.0, la.shape))
    daylight = np.maximum(0.0, np.cos((local_hour - 12.0) / 24.0 * 2.0 * np.pi))
    dsw = 950.0 * daylight * rng.uniform(0.6, 1.0, la.shape)
    dsw[daylight <= 0.05] = 0.0
    return {
        "tmp2m": t2,
        "dpt2m": dpt,
        "ugrd10m": rng.uniform(-15.0, 15.0, la.shape),
        "vgrd10m": rng.uniform(-15.0, 15.0, la.shape),
        "dswrfsfc": dsw,
        "dlwrfsfc": rng.uniform(250.0, 420.0, la.shape),
        "uswrfsfc": dsw * rng.uniform(0.05, 0.25, la.shape),
        "ulwrfsfc": rng.uniform(300.0, 480.0, la.shape),
    }


def grid_tables(seed: int, n_lat: int = 81, n_lon: int = 121, n_hours: int = 120) -> dict[str, pd.DataFrame]:
    """The ETL job's five input tables.

    Nulls are planted in two places so the merge and the chart gates do
    real work: scattered source gaps inside the previous snapshot's
    horizon (the prefer-new merge falls back to the old values there) and
    a few gap hours after it (nothing can fill them, so the local dates
    they land on fail the completeness gate)."""
    rng = np.random.default_rng(seed)
    lat, lon = grid_axes(n_lat, n_lon)
    ts = pd.date_range(T0, periods=n_hours, freq="1h")
    la, lo, tt, tsv = _long_form(lat, lon, ts)
    run = pd.DataFrame({"lat": la, "lon": lo, "ts": tsv, **_weather(rng, la, lo, tt + 1.0)})

    n_prev = n_hours - PREV_LEAD_HOURS  # starts 12 h earlier, ends 24 h earlier
    prev_end = T0 + pd.Timedelta(hours=n_prev - PREV_LEAD_HOURS - 1)
    in_prev = run["ts"].to_numpy() <= prev_end.to_datetime64()
    for c in VALUE_COLS:
        gaps = in_prev & (rng.random(len(run)) < 0.004)
        run.loc[gaps, c] = np.nan
    late_hours = np.flatnonzero(ts > prev_end)
    if len(late_hours):
        for h in rng.choice(late_hours, size=min(2, len(late_hours)), replace=False):
            cells = (tt == h) & (rng.random(len(run)) < 0.01)
            run.loc[cells, rng.choice(VALUE_COLS)] = np.nan
    run["ts"] = run["ts"].astype("datetime64[us]")

    pts = pd.date_range(T0 - pd.Timedelta(hours=PREV_LEAD_HOURS), periods=n_prev, freq="1h")
    pla, plo, _, ptsv = _long_form(lat, lon, pts)
    prev = pd.DataFrame(
        {
            "lat": pla,
            "lon": plo,
            "ts": ptsv,
            "utci": rng.uniform(-20.0, 45.0, pla.shape).round(3),
            "wbgt": rng.uniform(-20.0, 35.0, pla.shape).round(3),
        }
    )
    prev["ts"] = prev["ts"].astype("datetime64[us]")

    mla, mlo = (a.ravel() for a in np.meshgrid(lat, lon, indexing="ij"))
    flag = rng.random(mla.shape) < 0.6
    flag[mlo == 0.0] = True
    flag[mla == lat[0]] = False  # one all-sea latitude row: the sink skips it
    mask = pd.DataFrame({"lat": mla, "lon": mlo, "near_land": flag})

    status = pd.DataFrame(
        [
            {
                "_id": "status",
                "isUpdating": False,
                "latestSuccessfulUpdateSource": None,
                "globalCharts": {"2026-07-20": "2026-07-20_06z"},
            }
        ]
    )
    return {
        "gfs_run": run,
        "gfs_run_prev": prev,
        "near_land": mask,
        "status": status,
        "source_listing": source_listing(0),
    }


def source_listing(cycle: int) -> pd.DataFrame:
    """A catalog listing whose newest run is unique to ``cycle``, so the
    job never takes its "source unchanged" exit."""
    latest = pd.Timestamp("2026-08-01T06:00:00") + pd.Timedelta(hours=6 * cycle)
    rows = []
    for k in range(4):
        t = latest - pd.Timedelta(hours=6 * k)
        rows.append(
            {
                "url": f"https://nomads.example/gfs{t:%Y%m%d}/gfs_0p25_1hr_{t:%H}z",
                "run_date": np.int32(int(f"{t:%Y%m%d}")),
                "run_hour": np.int32(t.hour),
            }
        )
    return pd.DataFrame(rows)


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


# -- lakehouse batches ---------------------------------------------------

LAKE_ROW_BYTES = 5 * 8  # five 8-byte columns: the batch's user payload per row


def lake_batch(seed: int, k: int, n_lat: int, n_lon: int, horizon: int) -> pd.DataFrame:
    """Forecast run ``k``: starts 6 h after run ``k-1`` and covers
    ``horizon`` hourly steps, so it overlaps the previous run by
    ``horizon - 6`` hours. The batch carries the cell-hours whose forecast
    changed (a seeded 90% of the overlap, with fresh values) plus every
    cell-hour of the six new hours; run 0 carries its whole horizon."""
    lat, lon = grid_axes(n_lat, n_lon)
    ts = pd.date_range(T0 + pd.Timedelta(hours=6 * k), periods=horizon, freq="1h")
    la, lo, tt, tsv = _long_form(lat, lon, ts)
    rng = np.random.default_rng([seed, k])
    hours = tt + 6 * k
    diurnal = 8.0 * np.cos((hours % 24 - 14.0) / 24.0 * 2.0 * np.pi) - 0.3 * np.abs(la)
    df = pd.DataFrame(
        {
            "lat": la,
            "lon": lo,
            "ts": tsv.astype("datetime64[us]"),
            "utci": np.round(25.0 + diurnal + rng.normal(0.0, 2.0, la.shape), 3),
            "wbgt": np.round(20.0 + 0.6 * diurnal + rng.normal(0.0, 1.5, la.shape), 3),
        }
    )
    if k > 0:
        keep = (tt >= horizon - 6) | (rng.random(len(df)) < 0.9)
        df = df[keep].reset_index(drop=True)
    return df


# -- gate tables -----------------------------------------------------------

GATE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    d0, d1 = pd.Timestamp(start), pd.Timestamp(end)
    k = rng.integers(0, (d1 - d0).days + 1, n)
    return (d0 + pd.to_timedelta(k, unit="D")).values.astype("datetime64[us]")


def gate_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten relational tables, shaped like the TPC-H-style fixtures the
    gate queries were written against (same schemas, value domains and
    rows per scale factor)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    region = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": rng.uniform(-999.99, 9999.99, n_cust).round(2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": rng.uniform(-999.99, 9999.99, n_supp).round(2),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 20_000) / 10.0, 2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": rng.uniform(1000.0, 500_000.0, n_ord).round(2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": rng.uniform(900.0, 105_000.0, n_line).round(2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us") + ev_ts.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(50, int(15_000 * sf)), n_ev).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.maximum(0.01, rng.exponential(50.0, n_ev).round(2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_words = rng.integers(10, 100, n_doc)
    text = [" ".join(rng.choice(_WORDS, n)) for n in n_words]
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": text,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[0.44, 0.14, 0.14, 0.13, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }
