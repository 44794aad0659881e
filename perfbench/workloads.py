"""The three workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

Every workload function takes a ``Ctx``, builds its inputs from the seed,
warms up (all of which counts as set-up), marks the end of set-up, runs
its timed loop for at least ``ctx.seconds``, then checks the program's
outputs. Timings go to ``ctx.report``; with tracing on, per-layer figures
go to ``ctx.per_layer`` (generic, per round) and ``ctx.layers`` (named
after the program's modules).

A *round* is the unit a user waits for: one ETL cycle, one pass over the
gate queries, one lakehouse batch (commit, view refresh, reads).
"""

from __future__ import annotations

import glob
import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
from spans import Tracer, driver_gap_ms, median, percentile, union_ms

SIZES = {
    # (n_lat, n_lon, n_hours) of the ETL grid
    "etl": {"full": (41, 61, 120), "tiny": (9, 12, 60)},
    # gate tables scale factor
    "gate": {"full": 0.01, "tiny": 0.001},
    # (n_lat, n_lon, horizon hours) of the lakehouse table
    "lake": {"full": (21, 41, 48), "tiny": (5, 6, 24)},
}
# Each median rests on at least two rounds. Two ETL cycles fill
# ``--seconds 10`` on the 4-core machine of the baseline; a third would
# add 5-6 s to every run, which the run budget has no room for.
MIN_ROUNDS = 2


@dataclass
class Ctx:
    seed: int
    seconds: float
    size: str
    work: str
    t_start: float
    spark: object = None
    tracer: Tracer = None
    setup_done: float = 0.0
    timed_done: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    heap_live_mb: list = field(default_factory=list)
    report: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)

    def mark_setup_done(self) -> None:
        self.setup_done = time.time()

    def keep_going(self, t0: float, rounds: int, minimum: int = MIN_ROUNDS, every: int = 1) -> bool:
        """Whether the timed loop runs another round; records when it ends.
        It stops only after whole groups of ``every`` rounds, and never
        before ``minimum`` rounds (twice that in a traced run)."""
        minimum = -(-minimum // every) * every * (2 if self.tracer.enabled else 1)
        if rounds < minimum or rounds % every or time.time() - t0 < self.seconds:
            return True
        self.timed_done = time.time()
        return False

    def sample_heap(self) -> None:
        """Untimed, between rounds: the JVM heap still in use after a full
        collection, which is what the program keeps live across rounds.
        Python's collector runs first, so JVM objects held only by dead
        Python proxies are released; the JVM collects twice, so what
        Spark's cleaner frees after the first collection is gone too."""
        import gc

        gc.collect()
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mx.gc()
        time.sleep(0.2)
        mx.gc()
        self.heap_live_mb.append(mx.getHeapMemoryUsage().getUsed() / 2**20)

    @property
    def cores(self) -> int:
        return int(os.environ["SPARK_GRAFT_CPUS"])


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, (time.perf_counter() - t0) * 1000.0


# -- per-layer summaries -----------------------------------------------------

# Every layer metric the report names, per workload family. A layer the
# workload never calls reads 0: that is the bypass the README predicts.
LAYER_METRICS = [
    "plans.build_ms", "plans.analyze_ms", "plans.exec_ms", "plans.spark_jobs",
    "plans.driver_gap_ms", "plans.scan_bytes", "plans.shuffle_bytes",
    "kernels.build_ms", "kernels.exec_ms",
    "forecast.build_ms", "forecast.snapshot_ms", "forecast.snapshot_bytes",
    "serve.ms", "serve.spark_jobs", "serve.shuffle_bytes", "serve.docs",
    "charts.build_ms", "charts.render_ms", "charts.spark_jobs", "charts.collected_rows",
    "job.discover_ms", "job.spark_jobs", "job.driver_gap_ms", "state.ms",
    "mtable.merge_ms", "mtable.delete_ms", "mtable.compact_ms", "mtable.read_ms",
    "mtable.changes_ms", "mtable.spark_jobs", "mtable.driver_gap_ms",
    "mtable.files_added", "mtable.files_rewritten", "mtable.bytes_written",
    "mview.refresh_ms", "mview.spark_jobs", "mview.driver_gap_ms",
    "mview.groups_upserted_ratio",
    "session.core_busy_ratio",
]


class SpanStats:
    """Totals per span name over the traced rounds. Nested spans of the
    same name count once (the outermost)."""

    def __init__(self, tracer: Tracer, rounds: list[str]):
        self.rounds = rounds
        kids = tracer.children()
        by_id = {sp.sid: sp for sp in tracer.spans}
        self.tot: dict[str, dict] = {}
        self.timed = []  # the spans whose wall time the end-to-end figures count
        self.build_ms = 0.0  # Python plan construction, outermost build spans only
        for sp in tracer.spans:
            if sp.op not in rounds:
                continue
            if sp.attrs.get("timed"):
                self.timed.append((sp, tracer.subtree_jobs(sp, kids)))
            ancestors = []
            parent = by_id.get(sp.parent) if sp.parent is not None else None
            while parent is not None:
                ancestors.append(parent.name)
                parent = by_id.get(parent.parent) if parent.parent is not None else None
            if sp.name.endswith(".build") and not any(a.endswith(".build") for a in ancestors):
                self.build_ms += sp.wall_ms
            if sp.name in ancestors:
                continue
            jobs = tracer.subtree_jobs(sp, kids)
            t = self.tot.setdefault(sp.name, {"n": 0, "ms": 0.0, "jobs": 0, "gap": 0.0,
                                              "scan": 0, "shuffle": 0, "task_ms": 0.0})
            t["n"] += 1
            t["ms"] += sp.wall_ms
            t["jobs"] += len(jobs)
            t["gap"] += driver_gap_ms(sp, jobs)
            t["scan"] += sum(j.scan_bytes for j in jobs)
            t["shuffle"] += sum(j.shuffle_bytes for j in jobs)
            t["task_ms"] += sum(j.task_ms for j in jobs)
            for k, v in sp.attrs.items():
                if k != "timed":
                    t[k] = t.get(k, 0) + v

    def get(self, name: str, key: str = "ms") -> float:
        return self.tot.get(name, {}).get(key, 0)

    def per_call(self, name: str, key: str = "ms") -> float:
        n = self.get(name, "n")
        return self.get(name, key) / n if n else 0.0

    def per_round(self, names, key: str = "ms") -> float:
        names = [names] if isinstance(names, str) else names
        return sum(self.get(n, key) for n in names) / max(len(self.rounds), 1)

    def generic(self, cores: int) -> dict:
        """The workload-independent per-round figures BENCHMARK.json lists,
        over the timed operations only (not the untimed checks or probes)."""
        n = max(len(self.rounds), 1)
        wall = sum(sp.wall_ms for sp, _ in self.timed)
        jobs = [j for _, js in self.timed for j in js]
        job_ms = sum(
            union_ms([(j.start_ms, j.end_ms) for j in js], sp.start_ms, sp.end_ms)
            for sp, js in self.timed
        )
        return {
            "jobs_per_round": len(jobs) / n,
            "job_ms_per_round": job_ms / n,
            "driver_gap_ms_per_round": (wall - job_ms) / n,
            "build_ms_per_round": self.build_ms / n,
            "scan_bytes_per_round": sum(j.scan_bytes for j in jobs) / n,
            "shuffle_bytes_per_round": sum(j.shuffle_bytes for j in jobs) / n,
            "core_busy_ratio": sum(j.task_ms for j in jobs) / max(wall * cores, 1e-9),
        }


def _finish_trace(ctx: Ctx, rounds: list[str], named: dict, traced: list[float], untraced: list[float]) -> None:
    tr = ctx.tracer
    time.sleep(0.5)  # let the status listener publish the last jobs
    tr.collect_jobs()
    st = SpanStats(tr, rounds)
    ctx.per_layer = st.generic(ctx.cores)
    layers = {name: 0.0 for name in LAYER_METRICS}
    layers.update({k: float(v(st)) for k, v in named.items()})
    layers["session.core_busy_ratio"] = ctx.per_layer["core_busy_ratio"]
    ctx.layers = layers
    if traced and untraced:
        over = median(traced) - median(untraced)
        ctx.report["trace_overhead_ms"] = (over, "ms", len(traced) + len(untraced))
        ctx.report["trace_overhead_ratio"] = (over / median(untraced), "ratio", len(traced))
    # the spans outlive the run's work directory
    tr.dump(os.path.join(os.path.dirname(ctx.work), "spans", os.path.basename(ctx.work) + ".json"))


def _traced_turn(ctx: Ctx, i: int) -> bool:
    """In a traced run, rounds go untraced, traced, traced, untraced, ...
    so the same run measures the tracing overhead, and the warm-up still
    under way in the first rounds weighs on both sides alike."""
    return ctx.tracer.enabled and (i // 2) % 2 == 1


# -- etl_cycle -------------------------------------------------------------


def _expected_etl(tables: dict, sample_cells: int, rng) -> dict:
    """What one ETL cycle must produce, from the generator's frames alone:
    the doc count, the chart dates, and the merged (utci, wbgt) series of a
    seeded sample of near-land cells, computed with the numpy kernels."""
    from w4h_etl_container_spark import kernels as K
    from w4h_etl_container_spark.functions.exprbackend import NumpyBackend

    B = NumpyBackend()
    run, prev, mask = tables["gfs_run"], tables["gfs_run_prev"], tables["near_land"]
    cutoff = pd.Timestamp("2026-07-31T19:00:00")
    prev = prev[prev["ts"] >= cutoff]

    # nullness of the merged utci for every cell-hour: a new value exists
    # when none of its inputs is missing; otherwise the old one fills in
    new_ok = run[gen.VALUE_COLS].notna().all(axis=1)
    keys = ["lat", "lon", "ts"]
    cov = pd.concat([run.loc[new_ok, keys], prev[keys]]).drop_duplicates()
    allk = pd.concat([run[keys], prev[keys]]).drop_duplicates()
    allk = allk.merge(cov.assign(ok=True), on=keys, how="left")
    allk["ok"] = allk["ok"].notna()

    near = mask[mask["near_land"]][["lat", "lon"]]
    with_data = allk[allk["ok"]][["lat", "lon"]].drop_duplicates()
    n_docs = len(near.merge(with_data, on=["lat", "lon"]))

    # local solar dates with 24 hourly labels, none with a missing value
    ha = np.floor(allk["lon"].to_numpy() / 15.0 + 0.5)
    ha = np.where(ha > 12.0, ha - 24.0, ha)
    haa = allk["ts"] + pd.to_timedelta(ha, unit="h")
    bad = pd.Series(~allk["ok"].to_numpy()).groupby(haa.to_numpy()).any()
    clean = pd.Series(bad.index[~bad.to_numpy()])
    per_day = clean.groupby(clean.dt.date).size()
    dates = sorted(str(d) for d, n in per_day.items() if n >= 24)

    # merged values for sampled cells (prefer the new value per column)
    cells = near.merge(with_data, on=["lat", "lon"]).to_numpy()
    pick = cells[rng.choice(len(cells), size=min(sample_cells, len(cells)), replace=False)]
    sample = {}
    head = allk.loc[allk["ok"], "ts"].min()
    for lat, lon in pick:
        r = run[(run["lat"] == lat) & (run["lon"] == lon)]
        ts = pd.to_datetime(r["ts"])
        doy = ts.dt.dayofyear.to_numpy(dtype=np.float64)
        hour = ts.dt.hour.to_numpy(dtype=np.float64) - 0.5
        col = {c: r[c].to_numpy() for c in gen.VALUE_COLS}
        cossza = K.cos_solar_zenith_angle(B, r["lat"].to_numpy(), r["lon"].to_numpy(), doy, hour)
        erbs = K.erbs(B, np.nan_to_num(col["dswrfsfc"], nan=0.0), cossza, doy)
        mrt = K.mean_radiant_temperature_k(
            B, col["dswrfsfc"], col["uswrfsfc"], col["dlwrfsfc"], col["ulwrfsfc"], erbs["dni"], cossza
        )
        wind = K.wind_speed(B, col["ugrd10m"], col["vgrd10m"])
        new = pd.DataFrame({
            "ts": r["ts"].to_numpy(),
            "utci": K.utci_c(B, col["tmp2m"], wind, mrt, col["dpt2m"]),
            "wbgt": K.wbgt_c(B, col["tmp2m"], mrt, wind, col["dpt2m"]),
        })
        old = prev[(prev["lat"] == lat) & (prev["lon"] == lon)][["ts", "utci", "wbgt"]]
        m = new.merge(old, on="ts", how="outer", suffixes=("_n", "_o")).sort_values("ts")
        u = m["utci_n"].where(m["utci_n"].notna(), m["utci_o"])
        w = m["wbgt_n"].where(m["wbgt_n"].notna(), m["wbgt_o"])
        ok = u.notna() & w.notna()
        off = ((m["ts"] - head) / pd.Timedelta(hours=1)).to_numpy()
        sample[f"{lat:.2f},{lon:.2f}"] = (off[ok], u[ok].to_numpy(), w[ok].to_numpy())
    return {"n_docs": n_docs, "dates": dates, "sample": sample}


def _check_serving(serving_dir: str, want: dict) -> list[str]:
    """Decode the sampled documents the sink wrote and compare them with
    the numpy kernels, within half the 0.1 degree packing quantum."""
    docs = {}
    for path in glob.glob(os.path.join(serving_dir, "part-*.jsonl")):
        with open(path) as f:
            for line in f:
                d = json.loads(line)
                if d["_id"] in want:
                    docs[d["_id"]] = d["tempTimesEncoded"]
    problems = []
    for cid, (off, utci, wbgt) in want.items():
        enc = docs.get(cid)
        if enc is None:
            problems.append(f"serving doc {cid} missing")
            continue
        e = np.asarray(enc, dtype=np.float64)
        got_off = e - np.floor(e / 200.0) * 200.0
        got_u = np.floor(e / 400000.0) / 10.0 - 100.0
        got_w = (np.floor(e / 200.0) - np.floor(e / 400000.0) * 2000.0) / 10.0 - 100.0
        if len(e) != len(off) or not np.array_equal(got_off, off):
            problems.append(f"serving doc {cid}: hours {len(e)} vs {len(off)} expected")
        elif np.abs(got_u - utci).max() > 0.05 + 1e-6 or np.abs(got_w - wbgt).max() > 0.05 + 1e-6:
            problems.append(f"serving doc {cid}: decoded utci/wbgt off by more than the quantum")
    return problems


def etl_cycle(ctx: Ctx) -> None:
    from w4h_etl_container_spark.pipeline import charts as charts_mod
    from w4h_etl_container_spark.pipeline import forecast as forecast_mod
    from w4h_etl_container_spark.pipeline import job as job_mod
    from w4h_etl_container_spark.pipeline import serve as serve_mod
    from w4h_etl_container_spark.pipeline.state import StateStore

    spark, tr = ctx.spark, ctx.tracer
    grid = os.path.join(ctx.work, "grid")
    out = os.path.join(ctx.work, "etl")
    tables = gen.grid_tables(ctx.seed, *SIZES["etl"][ctx.size])
    gen.write_tables(tables, grid)
    job_mod.run_job(spark, grid, out)  # warm-up cycle
    ctx.mark_setup_done()

    def snapshot_bytes(sp, _):
        files = glob.glob(os.path.join(out, "snapshot", "**", "*.parquet"), recursive=True)
        sp.attrs["snapshot_bytes"] = sum(os.path.getsize(p) for p in files)

    def docs(sp, n):
        sp.attrs["docs"] = n

    def collected_rows(sp, artifacts):
        sp.attrs["collected_rows"] = sum(len(np.load(p)["lat"]) for p in artifacts if p.endswith(".npz"))

    state_methods = ["try_lock", "unlock", "latest_source", "commit_source", "register_chart", "expire_charts"]
    targets = [
        (job_mod, "discover_latest_source", "job.discover"),
        (forecast_mod, "run_forecast", "forecast.build"),
        (forecast_mod, "derive_thermal_indices", "kernels.build"),
        (forecast_mod, "write_snapshot", "forecast.snapshot", snapshot_bytes),
        (serve_mod, "run_serve", "serve", docs),
        (charts_mod, "cyclic_point_union", "charts.build"),
        (charts_mod, "daily_extremes", "charts.build"),
        (charts_mod, "render_charts", "charts.render", collected_rows),
        *[(StateStore, m, "state") for m in state_methods],
    ]
    results, traced, times, rounds = [], [], [], []  # times: untraced cycles
    t0 = time.time()
    while ctx.keep_going(t0, len(results)):
        cycle = len(results) + 1
        # a new run appears in the catalog, so the job never skips
        gen.source_listing(cycle).to_parquet(os.path.join(grid, "source_listing.parquet"), index=False)
        on = _traced_turn(ctx, cycle)
        op = f"cycle-{cycle}"
        ctx.attempted += 1
        try:
            with tr.recording(op, on), tr.patched(targets), tr.span("job", timed=True):
                res, ms = _timed(job_mod.run_job, spark, grid, out)
            if on:
                # probe, untimed: the kernel chain alone, executed to noop
                with tr.recording(op), tr.span("kernels.exec"):
                    forecast_mod.derive_thermal_indices(
                        forecast_mod.select_run_window(spark.read.parquet(os.path.join(grid, "gfs_run.parquet")))
                    ).write.format("noop").mode("overwrite").save()
                tr.collect_jobs()
                rounds.append(op)
        except Exception as e:  # an op that raises counts as failed
            ctx.fail(f"cycle {cycle}: {type(e).__name__}: {e}")
            results.append(None)
            continue
        results.append(res)
        (traced if on else times).append(ms)
        ctx.sample_heap()

    want = _expected_etl(tables, 16 if ctx.size == "full" else 4, np.random.default_rng(ctx.seed))
    for cycle, res in enumerate(results, 1):
        if res is None:
            continue
        if res.get("skipped"):
            ctx.fail(f"cycle {cycle}: skipped ({res['skipped']})")
        elif res["n_docs"] != want["n_docs"]:
            ctx.fail(f"cycle {cycle}: {res['n_docs']} docs, expected {want['n_docs']}")
        elif res["dates"] != want["dates"]:
            ctx.fail(f"cycle {cycle}: chart dates {res['dates']}, expected {want['dates']}")
    serving = _check_serving(os.path.join(out, "serving"), want["sample"])
    if serving:  # the sink's files hold the last cycle's output
        ctx.fail(f"cycle {len(results)}: " + "; ".join(serving[:3]))

    p50 = median(times) if times else float("nan")
    ctx.report["round_p50_s"] = (p50 / 1000.0, "s", len(times))
    ctx.report["etl_cycle_p50_s"] = (p50 / 1000.0, "s", len(times))

    if tr.enabled:
        _finish_trace(ctx, rounds, {
            "kernels.build_ms": lambda s: s.per_round("kernels.build"),
            "kernels.exec_ms": lambda s: s.per_round("kernels.exec"),
            "forecast.build_ms": lambda s: s.per_round("forecast.build"),
            "forecast.snapshot_ms": lambda s: s.per_round("forecast.snapshot"),
            "forecast.snapshot_bytes": lambda s: s.per_round("forecast.snapshot", "snapshot_bytes"),
            "serve.ms": lambda s: s.per_round("serve"),
            "serve.spark_jobs": lambda s: s.per_round("serve", "jobs"),
            "serve.shuffle_bytes": lambda s: s.per_round("serve", "shuffle"),
            "serve.docs": lambda s: s.per_round("serve", "docs"),
            "charts.build_ms": lambda s: s.per_round("charts.build"),
            "charts.render_ms": lambda s: s.per_round("charts.render"),
            "charts.spark_jobs": lambda s: s.per_round(["charts.build", "charts.render"], "jobs"),
            "charts.collected_rows": lambda s: s.per_round("charts.render", "collected_rows"),
            "job.discover_ms": lambda s: s.per_round("job.discover"),
            "job.spark_jobs": lambda s: s.per_round("job", "jobs"),
            "job.driver_gap_ms": lambda s: s.per_round("job", "gap"),
            "state.ms": lambda s: s.per_round("state"),
        }, traced, times)


# -- gate_read ---------------------------------------------------------------


def _canon(v) -> str:
    import datetime as dt
    import math
    from decimal import Decimal

    if v is None:
        return "~"
    if isinstance(v, (np.generic,)):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        return "~" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows) -> list[str]:
    """Order-insensitive canonical form of a result: columns by name, rows
    sorted, NULL and NaN alike (as pandas materializes both)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def _oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    cols, types = rel.columns, [str(t) for t in rel.types]
    pdf = rel.df()
    rows = []
    for r in pdf.itertuples(index=False, name=None):
        row = []
        for v, t in zip(r, types):
            if v is pd.NaT:
                v = None
            elif t == "DATE" and isinstance(v, pd.Timestamp):
                v = v.date()
            row.append(v)
        rows.append(tuple(row))
    return cols, rows


def gate_read(ctx: Ctx) -> None:
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from w4h_etl_container_spark.plans.registry import load_all

    spark, tr = ctx.spark, ctx.tracer
    data = os.path.join(ctx.work, "gate")
    gen.write_tables(gen.gate_tables(ctx.seed, SIZES["gate"][ctx.size]), data)
    registry = {n: q for n, q in load_all().items() if not n.startswith("q_mtable_")}
    names = sorted(registry)

    def collect(name: str) -> tuple | str:
        try:
            sdf = registry[name].fn(spark, data)
            return sdf.columns, [tuple(r) for r in sdf.collect()]
        except Exception as e:
            return f"{type(e).__name__}: {str(e)[:200]}"

    # warm-up: one pass that collects each result for the oracle check
    # after the timed loop, one query per core at a time (a sequential
    # cold pass takes 10 s longer, which the run budget has no room for).
    # A query that raises here raises again, and is counted, in the timed
    # loop.
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        results = dict(zip(names, pool.map(collect, names)))
    spark.range(1).write.format("noop").mode("overwrite").save()  # the timed loop's sink
    ctx.mark_setup_done()

    order = random.Random(ctx.seed)
    runs = dict.fromkeys(names, 0)  # timed runs that returned, per query
    q_ms, passes, traced, rounds = [], [], [], []  # q_ms, passes: untraced
    t0 = time.time()
    # query_p90_ms needs ten samples above it: three passes of 45 give 13
    while ctx.keep_going(t0, len(passes) + len(traced), minimum=3):
        on = _traced_turn(ctx, len(passes) + len(traced) + 1)
        op = f"pass-{len(passes) + len(traced) + 1}"
        times = []
        with tr.recording(op, on):
            for name in order.sample(names, len(names)):
                ctx.attempted += 1
                try:
                    ms = _run_query(tr, registry[name], spark, data)
                except Exception as e:
                    ctx.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                runs[name] += 1
                times.append(ms)
        if on:
            traced.append(sum(times))
            tr.collect_jobs()
            rounds.append(op)
        else:
            q_ms.extend(times)
            passes.append(sum(times) / 1000.0)
        ctx.sample_heap()

    con = duckdb.connect()
    for t in gen.GATE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")

    def check(name: str) -> str | None:
        """Untimed: the result the warm-up collected against the oracle SQL."""
        sql, result = registry[name].sql, results[name]
        if sql is None:
            return None
        if isinstance(result, str):
            return f"not checked, the warm-up run raised {result}"
        got_cols, got = result
        try:
            cols, rows = _oracle_rows(con.cursor(), sql)
        except Exception as e:
            return f"oracle: {type(e).__name__}: {str(e)[:200]}"
        if sorted(cols) != sorted(got_cols):
            return f"columns {sorted(got_cols)} vs oracle {sorted(cols)}"
        if canon_rows(got_cols, got) != canon_rows(cols, rows):
            return f"{len(got)} rows differ from the oracle's {len(rows)}"
        return None

    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        wrong = dict(zip(names, pool.map(check, names)))
    for name, problem in wrong.items():
        for _ in range(runs[name] if problem else 0):  # every timed run of a wrong query
            ctx.fail(f"{name}: {problem}")

    p50, p90 = median(q_ms), percentile(q_ms, 90)
    ctx.report["round_p50_s"] = (median(passes), "s", len(passes))
    ctx.report["query_p50_ms"] = (p50, "ms", len(q_ms))
    ctx.report["query_p90_ms"] = (p90 if p90 is not None else float("nan"), "ms", len(q_ms))
    ctx.report["gate_pass_s"] = (median(passes), "s", len(passes))

    if tr.enabled:
        def per_query(name: str, key: str = "ms"):
            return lambda s: s.get(name, key) / max(s.get("plans.query", "n"), 1)

        _finish_trace(ctx, rounds, {
            "plans.build_ms": per_query("plans.build"),
            "plans.analyze_ms": per_query("plans.analyze"),
            "plans.exec_ms": per_query("plans.exec"),
            "plans.spark_jobs": per_query("plans.query", "jobs"),
            "plans.driver_gap_ms": per_query("plans.query", "gap"),
            "plans.scan_bytes": per_query("plans.query", "scan"),
            "plans.shuffle_bytes": per_query("plans.query", "shuffle"),
        }, traced, [p * 1000.0 for p in passes])


def _run_query(tr: Tracer, q, spark, data: str) -> float:
    """One gate query: build its plan and execute it to the noop sink, as
    the engine benchmark does. While spans are recorded, the physical plan
    is forced first so analysis and optimization show apart from the jobs."""
    with tr.span("plans.query", timed=True) as top:
        t0 = time.perf_counter()
        with tr.span("plans.build"):
            df = q.fn(spark, data)
        if top is not None:
            with tr.span("plans.analyze"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1000.0


# -- lakehouse_mix -------------------------------------------------------------

KEY = ["lat", "lon", "ts"]
COMPACT_EVERY = 4
COMMITS = ("merge", "delete", "compact")


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


def _live_bytes(table: str) -> int:
    from w4h_etl_container_spark.pipeline.mtable import read_manifest

    man = read_manifest(table)
    files = set(man["files"])
    for dvs in (man.get("dv") or {}).values():
        files.update(dvs)
    return sum(os.path.getsize(os.path.join(table, f)) for f in files)


def _groups(keys: pd.MultiIndex) -> int:
    """Distinct (lat, lon, day) view groups a set of (lat, lon, ts) keys hits."""
    return len(pd.DataFrame({
        "lat": keys.get_level_values(0),
        "lon": keys.get_level_values(1),
        "day": keys.get_level_values(2).date,
    }).drop_duplicates())


class _Lakehouse:
    """The serving store as an mtable keyed on (lat, lon, ts), a daily
    high/low/count view over it, and a dict model of every batch applied."""

    VIEW_COLS = ["lat", "lon", "day", "high", "low", "n"]

    def __init__(self, ctx: Ctx):
        from w4h_etl_container_spark.pipeline import mtable as mt
        from w4h_etl_container_spark.pipeline import mview as mv

        self.ctx, self.spark, self.tr, self.mt, self.mv = ctx, ctx.spark, ctx.tracer, mt, mv
        self.dims = SIZES["lake"][ctx.size]
        self.table = os.path.join(ctx.work, "serving_table")
        self.view = os.path.join(ctx.work, "daily_view")
        self.k = 0
        self.user_bytes = self.written = 0
        # timings per kind of op ("merge-cow", "refresh", ...), untraced and traced
        self.samples: dict[str, list[float]] = {}
        self.traced: dict[str, list[float]] = {}
        self.model = gen.lake_batch(ctx.seed, 0, *self.dims).set_index(KEY)
        mt.mtable_create(self.spark, self._frame(self.model.reset_index()), self.table)
        mv.mv_create(self.spark, self.view, self.table, group_by=["lat", "lon", "day"], key=KEY,
                     aggs={"high": ("max", "utci"), "low": ("min", "utci"), "n": ("count", "*")})

    def _frame(self, pdf: pd.DataFrame):
        pdf = pdf.assign(day=pdf["ts"].dt.date)
        return self.spark.createDataFrame(pdf[["lat", "lon", "ts", "day", "utci", "wbgt"]])

    def _version(self) -> int:
        return self.mt.read_manifest(self.table)["version"]

    def _commit(self, kind: str, fn, *args, **kwargs) -> float:
        """One commit, timed alone; file and byte counts come from the
        table directory before and after it (untimed)."""
        files0, tree0 = set(self.mt.read_manifest(self.table)["files"]), _tree_files(self.table)
        with self.tr.span(f"mtable.{kind}", timed=True) as sp:
            _, ms = _timed(fn, self.spark, self.table, *args, **kwargs)
        if "mode" in kwargs:
            kind = f"{kind}-{kwargs['mode']}"
        files1 = set(self.mt.read_manifest(self.table)["files"])
        written = sum(size for p, size in _tree_files(self.table).items() if p not in tree0)
        self.written += written
        if sp is not None:
            sp.attrs.update(files_added=len(files1 - files0), files_rewritten=len(files0 - files1),
                            bytes_written=written)
        self._sample(kind, ms)
        return ms

    def _after_commit(self, touched_groups: int, after: str) -> float:
        """Refresh the view (timed), check it against a full recompute
        (untimed), then one aggregate read and one change-feed read (timed).
        The read is filed under the kind of commit before it (``after``:
        cow, mor or compact). Returns the timed milliseconds."""
        from pyspark.sql import functions as F

        mt, spark = self.mt, self.spark
        with self.tr.span("mview.refresh", timed=True) as sp:
            rep, refresh_ms = _timed(self.mv.mv_refresh, spark, self.view)
        if sp is not None:
            sp.attrs.update(groups_upserted=rep.get("groups_upserted", 0), groups_touched=touched_groups)
        got = self.mv.mv_read(spark, self.view).select(*self.VIEW_COLS).collect()
        want = (mt.mtable_read(spark, self.table).groupBy("lat", "lon", "day")
                .agg(F.max("utci").alias("high"), F.min("utci").alias("low"), F.count(F.lit(1)).alias("n"))
                .collect())
        if canon_rows(self.VIEW_COLS, got) != canon_rows(self.VIEW_COLS, [tuple(r) for r in want]):
            raise AssertionError(f"view differs from a full recompute at base v{self._version()}")

        version = self._version()
        tr = self.tr
        with tr.span("mtable.read", timed=True):
            t0 = time.perf_counter()
            with tr.span("mtable.build"):
                df = mt.mtable_read(spark, self.table).groupBy("day").agg(
                    F.max("utci"), F.min("wbgt"), F.count(F.lit(1)))
            df.collect()
            read_ms = (time.perf_counter() - t0) * 1000.0
        with tr.span("mtable.changes", timed=True):
            t0 = time.perf_counter()
            with tr.span("mtable.build"):
                df = mt.mtable_changes(spark, self.table, version - 1, key=KEY).groupBy("_change_type").count()
            df.collect()
            changes_ms = (time.perf_counter() - t0) * 1000.0
        self._sample("refresh", refresh_ms)
        self._sample(f"read-{after}", read_ms)
        self._sample("changes", changes_ms)
        return refresh_ms + read_ms + changes_ms

    def _sample(self, kind: str, ms: float) -> None:
        (self.traced if self.tr.is_recording else self.samples).setdefault(kind, []).append(ms)

    def times(self, *kinds: str) -> list[float]:
        """Untraced samples of the kinds named, with or without a "-mode" suffix."""
        return [ms for kind, v in self.samples.items() if kind.split("-")[0] in kinds for ms in v]

    def round(self, compact: bool) -> float:
        """Batch ``k``: a merge (CoW and MoR alternate), a retention delete
        of the hours that fell out of the window (MoR and CoW alternate),
        and a compaction when asked, each followed by the refresh and the
        reads. Returns the round's timed milliseconds."""
        self.k += 1
        k, mt = self.k, self.mt
        batch = gen.lake_batch(self.ctx.seed, k, *self.dims)
        self.user_bytes += len(batch) * gen.LAKE_ROW_BYTES
        keys = batch.set_index(KEY).index
        self.model = pd.concat([self.model.drop(keys, errors="ignore"), batch.set_index(KEY)])
        mode = "cow" if k % 2 else "mor"
        ms = self._commit("merge", mt.mtable_merge, self._frame(batch), KEY, mode=mode)
        ms += self._after_commit(_groups(keys), mode)
        # the window starts with the newest run
        cutoff = gen.T0 + pd.Timedelta(hours=6 * k)
        doomed = self.model.index[self.model.index.get_level_values(2) < cutoff]
        if len(doomed):
            self.model = self.model.drop(doomed)
            mode = "mor" if k % 2 else "cow"
            ms += self._commit("delete", mt.mtable_delete, self.spark.createDataFrame(doomed.to_frame(index=False)),
                               KEY, mode=mode)
            ms += self._after_commit(_groups(doomed), mode)
        if compact:
            ms += self._commit("compact", mt.mtable_compact)
            ms += self._after_commit(0, "compact")
        return ms

    def check_model(self) -> str | None:
        cols = ["lat", "lon", "ts", "utci", "wbgt"]
        got = self.mt.mtable_read(self.spark, self.table).select(*cols).collect()
        want = list(self.model.reset_index()[cols].itertuples(index=False, name=None))
        if canon_rows(cols, got) != canon_rows(cols, want):
            return f"table ({len(got)} rows) differs from the model of the batch history ({len(want)} rows)"
        return None

    def space_amp(self) -> float:
        """Live table bytes over the same rows written once, compacted."""
        once = os.path.join(self.ctx.work, "compacted_once")
        self.mt.mtable_read(self.spark, self.table).coalesce(1).write.parquet(once)
        once_bytes = sum(s for p, s in _tree_files(once).items() if p.endswith(".parquet"))
        return _live_bytes(self.table) / max(once_bytes, 1)


def lakehouse_mix(ctx: Ctx) -> None:
    tr = ctx.tracer
    lake = _Lakehouse(ctx)
    # warm-up: every kind of commit once (a CoW merge and MoR delete, then
    # a MoR merge, CoW delete and a compaction)
    lake.round(compact=False)
    lake.round(compact=True)
    ctx.mark_setup_done()

    lake.samples.clear()
    user0, written0 = lake.user_bytes, lake.written
    round_ms, rounds = [], []
    t0 = time.time()
    # whole cycles of COMPACT_EVERY batches, so every run times the same
    # mix of CoW, MoR and compaction
    while ctx.keep_going(t0, ctx.attempted, every=COMPACT_EVERY):
        ctx.attempted += 1
        on = _traced_turn(ctx, ctx.attempted)
        op = f"batch-{ctx.attempted}"
        try:
            with tr.recording(op, on):
                ms = lake.round(compact=(lake.k + 1) % COMPACT_EVERY == 0)
        except Exception as e:
            ctx.fail(f"batch {lake.k}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if on:
            tr.collect_jobs()
            rounds.append(op)
        else:
            round_ms.append(ms)
        ctx.sample_heap()

    problem = lake.check_model()
    if problem:
        ctx.fail(problem)

    # untraced samples only (traced rounds feed the overhead figure)
    s, commits, reads = lake.samples, lake.times(*COMMITS), lake.times("read")
    ctx.report["round_p50_s"] = (median(round_ms) / 1000.0, "s", len(round_ms))
    ctx.report["commit_p50_ms"] = (median(commits), "ms", len(commits))
    ctx.report["mv_refresh_p50_ms"] = (median(s["refresh"]), "ms", len(s["refresh"]))
    ctx.report["snapshot_read_p50_ms"] = (median(reads), "ms", len(reads))
    for after in ("cow", "mor"):  # the read cost each commit mode leaves behind
        r = s.get(f"read-{after}", [])
        ctx.report[f"snapshot_read_{after}_p50_ms"] = (median(r) if r else float("nan"), "ms", len(r))
    ctx.report["write_amp"] = ((lake.written - written0) / max(lake.user_bytes - user0, 1), "ratio", len(commits))
    ctx.report["space_amp"] = (lake.space_amp(), "ratio", 1)

    if tr.enabled:
        # traced and untraced rounds differ in their mix of commits (modes
        # alternate, compactions are rare), so compare per kind of op
        kinds = [k for k in s if k in lake.traced]
        traced = [sum(median(lake.traced[k]) for k in kinds)]
        untraced = [sum(median(s[k]) for k in kinds)]
        commit_spans = ["mtable.merge", "mtable.delete", "mtable.compact"]
        mtable_all = commit_spans + ["mtable.read", "mtable.changes"]
        _finish_trace(ctx, rounds, {
            "mtable.merge_ms": lambda st: st.per_call("mtable.merge"),
            "mtable.delete_ms": lambda st: st.per_call("mtable.delete"),
            "mtable.compact_ms": lambda st: st.per_call("mtable.compact"),
            "mtable.read_ms": lambda st: st.per_call("mtable.read"),
            "mtable.changes_ms": lambda st: st.per_call("mtable.changes"),
            "mtable.spark_jobs": lambda st: st.per_round(mtable_all, "jobs"),
            "mtable.driver_gap_ms": lambda st: st.per_round(mtable_all, "gap"),
            "mtable.files_added": lambda st: st.per_round(commit_spans, "files_added"),
            "mtable.files_rewritten": lambda st: st.per_round(commit_spans, "files_rewritten"),
            "mtable.bytes_written": lambda st: st.per_round(commit_spans, "bytes_written"),
            "mview.refresh_ms": lambda st: st.per_call("mview.refresh"),
            "mview.spark_jobs": lambda st: st.per_round("mview.refresh", "jobs"),
            "mview.driver_gap_ms": lambda st: st.per_round("mview.refresh", "gap"),
            "mview.groups_upserted_ratio": lambda st: st.get("mview.refresh", "groups_upserted")
            / max(st.get("mview.refresh", "groups_touched"), 1),
        }, traced, untraced)
