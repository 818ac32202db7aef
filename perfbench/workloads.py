"""The benchmark's workloads, each a closed loop with one client.

A run has three steps: set-up (inputs, first touch of every scan, warm-up,
and an output check against independent truth that is not counted as
set-up), the timed passes, and clean-up. A pass is the workload's fixed
sequence of operations, so every run measures the same work whatever its
seed; the seed decides the inputs.
"""

from __future__ import annotations

import gc
import glob
import os
import shutil
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import datagen
from measure import Tracer, tree_cpu_s

# The registry queries of `registry_queries`, in the order every pass runs
# them: short analyst queries, whose plans launch no jobs while they are
# built, and a loop query, which runs most of its work inside the builder
# and leaves checkpoint blocks. README.md says why each is here, and why
# the order is fixed rather than drawn from the seed.
ANALYST_SQL = [
    "q1_pricing_summary",
    "j1_star_join_revenue",
    "agro_gdd_accumulation",
    "quality_suite",
]
ITERATIVE_LOOPS = ["graph_pagerank_k10"]
QUERY_SF = 0.002  # 12,000 lineitems
ETL_LOCATIONS = 300  # each batch lands soil and weather for every one
ETL_BASE_FACTS = 3000  # daily rows of the base fact table, 1995-2001
ETL_DAYS = 8  # weather days per location and batch: 7 new + 1 re-sent
ETL_TEXTS = 100
ETL_WARM_BATCHES = 1  # the second batch runs within 10% of later ones


@dataclass
class Run:
    """One benchmark run: the session, its tracer, and the samples and
    counters the report is built from."""

    spark: object
    tracer: Tracer
    work_dir: str
    seed: int
    seconds: float
    t_process: float
    samples: dict[str, list[float]] = field(default_factory=dict)
    counters: dict[str, float] = field(default_factory=dict)
    setup_s: float = 0.0
    passes: int = 0
    timed_wall_s: float = 0.0
    timed_cpu_s: float = 0.0
    timed_jit_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def count(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    def problem(self, what: str) -> None:
        self.problems.append(what)
        print(f"CHECK FAILED {what}", flush=True)

    @contextmanager
    def timed(self, total: bool = True):
        """Time one operation of the timed region; yields a dict that
        receives its `wall_s`. With `total`, its wall time and the process
        tree's CPU time (JIT compiler threads apart) add to the run totals.
        Time the tracer spends forcing plans for its Catalyst figure is
        left out."""
        out: dict[str, float] = {}
        e0, c0, t0 = self.tracer.excluded_s, tree_cpu_s(), time.perf_counter()
        yield out
        out["wall_s"] = time.perf_counter() - t0 - (self.tracer.excluded_s - e0)
        if total:
            c1 = tree_cpu_s()
            self.timed_wall_s += out["wall_s"]
            self.timed_cpu_s += c1[0] - c0[0]
            self.timed_jit_s += c1[1] - c0[1]

    def timed_passes(self, one_pass) -> None:
        """Run whole passes until `seconds` of wall clock have gone by
        (at least one), so every run measures complete passes. Both
        heaps are collected first, so no run starts its timing with
        another run's amount of garbage."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.tracer.timed = True
        t_end = time.time() + self.seconds
        while self.passes == 0 or time.time() < t_end:
            if not one_pass():
                break
            self.passes += 1
        self.tracer.timed = False


def checkpoint_blocks(spark) -> int:
    """Cached RDD blocks left behind (the localCheckpoint intermediates)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.numCachedPartitions() for info in infos)


# ------------------------------------------------------- query workloads


def _timed_query(run: Run, name: str, sf_dir: str) -> bool:
    """Build and fully materialise one registry query (Spark's `noop`
    sink); then, outside the timing, record and free its checkpoint
    blocks. Returns False if the query raised."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
    from automated_agro_climatic_data_warehouse_spark.session import drop_checkpoint_blocks

    tr = run.tracer
    try:
        with run.timed() as t:
            with tr.span("plans.build"):
                df = QUERIES[name].spark_fn(run.spark, sf_dir)
            with tr.span("exec.action"):
                tr.catalyst(df)
                df.write.format("noop").mode("overwrite").save()
        run.add("query", t["wall_s"])
        ok = True
    except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
        traceback.print_exc()
        ok = False
    run.count("operators.checkpoint_blocks", checkpoint_blocks(run.spark))
    drop_checkpoint_blocks(run.spark)
    return ok


@contextmanager
def _untimed():
    """Stands in for `Run.timed` outside the timed region."""
    yield {}


def check_against_oracle(spdf, spec, sf_dir: str, con) -> list[str]:
    """`oracle.compare` with the Spark result already collected: row
    count, column names, then the pandas-level exact comparison."""
    from automated_agro_climatic_data_warehouse_spark.oracle import _canon_pandas, _pandas_diff

    opdf = con.execute(spec.oracle.replace("{sf}", sf_dir)).df()
    if len(spdf) != len(opdf):
        return [f"rowcount spark={len(spdf)} oracle={len(opdf)}"]
    if sorted(spdf.columns) != sorted(opdf.columns):
        return [f"columns spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"]
    try:
        return _pandas_diff(_canon_pandas(spdf), _canon_pandas(opdf))
    except TypeError as exc:
        return [f"driver-canon crash: {exc}"]


def query_workload(run: Run) -> None:
    from automated_agro_climatic_data_warehouse_spark.oracle import duckdb_conn
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
    from automated_agro_climatic_data_warehouse_spark.session import drop_checkpoint_blocks
    from automated_agro_climatic_data_warehouse_spark.sources import TABLES, load_table

    names = ANALYST_SQL + ITERATIVE_LOOPS
    sf_dir = os.path.join(run.work_dir, "tables")
    datagen.write_tables(sf_dir, QUERY_SF, run.seed)
    tr = run.tracer
    with tr.span("sources.scan_setup"):
        for table in TABLES:
            load_table(run.spark, sf_dir, table)

    # The warm-up pass is also the output check: each query's full result
    # is collected and compared with its DuckDB oracle twin. The oracle's
    # own time is not set-up and is left out of setup_s.
    wrong, oracle_s = set(), 0.0
    con = duckdb_conn(sf_dir)
    con.execute(f"SET temp_directory='{run.work_dir}/duckdb'")
    with tr.span("session.warm"):
        for name in names:
            try:
                spdf = QUERIES[name].spark_fn(run.spark, sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted
                spdf, problems = None, [f"error: {type(exc).__name__}: {exc}"]
            drop_checkpoint_blocks(run.spark)
            t1 = time.perf_counter()
            with tr.span("oracle.check"):
                if spdf is not None:
                    problems = check_against_oracle(spdf, QUERIES[name], sf_dir, con)
            oracle_s += time.perf_counter() - t1
            if problems:
                wrong.add(name)
                run.problem(f"{name}: {'; '.join(problems)[:300]}")
    con.close()
    run.setup_s = time.time() - run.t_process - oracle_s

    def one_pass() -> bool:
        for name in names:
            ok = _timed_query(run, name, sf_dir)
            run.attempted += 1
            run.failed += (not ok) or name in wrong
        return True

    run.timed_passes(one_pass)


# --------------------------------------------------------- daily load

SOIL_SCHEMA = (
    "location_key long, latitude double, longitude double, "
    "region_name string, payload string"
)
WEATHER_SCHEMA = (
    "location_key long, daily struct<time: array<string>, "
    "temperature_2m_max: array<double>, temperature_2m_min: array<double>, "
    "precipitation_sum: array<double>, relative_humidity_2m_mean: array<double>>"
)
CROPS_SCHEMA = "text_id long, crop_name string, raw_text string"
CROP_REQ_SCHEMA = (
    "idem_key string, text_id long, crop_name string, temp_min_c double, "
    "temp_max_c double, water_mm_day double, sunlight_hours double, "
    "ph_min double, ph_max double, confidence double"
)
MV_COLUMNS = [
    "location_key", "region_name", "year", "month", "crop_name",
    "avg_temp_c", "precip_mm", "n_days", "compatibility",
]


def _mv_oracle_sql(fact: str, dim: str, crop: str) -> str:
    from automated_agro_climatic_data_warehouse_spark.functions import DAVG_SQL, DSUM_SQL

    return f"""
    WITH m AS (
      SELECT location_key, year, month,
             {DAVG_SQL('temp_mean_c')} AS avg_temp_c,
             {DSUM_SQL('precipitation_mm')} AS precip_mm,
             count(*) AS n_days
      FROM read_parquet('{fact}/**/*.parquet', hive_partitioning = true)
      GROUP BY location_key, year, month),
    loc AS (SELECT location_key, region_name
            FROM read_parquet('{dim}/*.parquet') WHERE is_current),
    crop AS (SELECT crop_name, optimal_temp_min_c, optimal_temp_max_c
             FROM read_parquet('{crop}/*.parquet'))
    SELECT m.location_key, loc.region_name, m.year, m.month, crop.crop_name,
           avg_temp_c, precip_mm, n_days,
           CASE WHEN avg_temp_c BETWEEN optimal_temp_min_c AND optimal_temp_max_c
                THEN 'Compatible' ELSE 'Incompatible' END AS compatibility
    FROM m JOIN loc ON m.location_key = loc.location_key CROSS JOIN crop
    """


def _mv_frame(spark, fact: str, dim: str, crop: str):
    """The batch's materialized view: monthly climate per current
    location, labelled against every crop's temperature range."""
    from pyspark.sql import functions as F

    from automated_agro_climatic_data_warehouse_spark.functions import davg, dsum

    m = (
        spark.read.parquet(fact)
        .groupBy("location_key", "year", "month")
        .agg(
            davg("temp_mean_c").alias("avg_temp_c"),
            dsum("precipitation_mm").alias("precip_mm"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
    loc = spark.read.parquet(dim).filter("is_current").select("location_key", "region_name")
    crops = spark.read.parquet(crop).select(
        "crop_name", "optimal_temp_min_c", "optimal_temp_max_c"
    )
    return m.join(loc, "location_key").crossJoin(F.broadcast(crops)).select(
        *MV_COLUMNS[:-1],
        F.when(
            F.col("avg_temp_c").between(F.col("optimal_temp_min_c"), F.col("optimal_temp_max_c")),
            F.lit("Compatible"),
        ).otherwise(F.lit("Incompatible")).alias("compatibility"),
    )


def _observed_rows(df):
    """`df` with a row counter the write fills in (no extra job)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    rows = Observation()
    return df.observe(rows, F.count(F.lit(1)).alias("rows")), rows


def _dir_stats(paths: list[str]) -> tuple[int, int]:
    """Number and total bytes of the parquet files under `paths`."""
    files = [
        f for p in paths
        for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


@dataclass
class Warehouse:
    """Where the live tables are and what the generator expects in them."""

    root: str
    tables: dict[str, str]
    regions: list[str]
    dim_rows: int
    fact_rows: int
    mv_path: str = ""


class DailyLoad:
    """The reference's daily extract→clean→load, one batch at a time,
    through `pipeline.PipelineRunner`."""

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        self.wh: Warehouse | None = None
        self.expect: dict = {}  # the last batch's counts, from the generator

    # ---- set-up

    def setup(self) -> None:
        from automated_agro_climatic_data_warehouse_spark.plans.suitability import CROPS

        run, spark = self.run, self.spark
        regions = [str(r) for r in np.random.default_rng([run.seed, 4]).choice(
            datagen.SEGMENTS, ETL_LOCATIONS)]
        root = os.path.join(run.work_dir, "warehouse")
        fact_rows = datagen.write_base_warehouse(root, run.seed, regions, CROPS, ETL_BASE_FACTS)
        spark.createDataFrame([], CROP_REQ_SCHEMA).write.parquet(
            f"{root}/crop_requirements/batch=-1"
        )
        self.wh = Warehouse(
            root=root,
            tables={t: f"{root}/{t}" for t in ("dim_location", "dim_crop", "fact_weather")},
            regions=regions,
            dim_rows=len(regions),
            fact_rows=fact_rows,
        )
        with run.tracer.span("session.warm"):
            for b in range(ETL_WARM_BATCHES):
                self.batch(b, timed=False)
        run.setup_s = time.time() - run.t_process

    # ---- one batch

    def batch(self, b: int, timed: bool) -> None:
        from pyspark.sql import functions as F

        from automated_agro_climatic_data_warehouse_spark.functions import cleaning as C
        from automated_agro_climatic_data_warehouse_spark.functions import extraction as X
        from automated_agro_climatic_data_warehouse_spark.functions import keys as K
        from automated_agro_climatic_data_warehouse_spark.operators.scd2 import scd2_apply
        from automated_agro_climatic_data_warehouse_spark.operators.upsert import (
            insert_if_absent,
            upsert,
        )
        from automated_agro_climatic_data_warehouse_spark.pipeline import (
            PipelineRunner,
            refresh_materialized_view,
        )
        from automated_agro_climatic_data_warehouse_spark.sources.landing import (
            parse_soil_payload,
            unzip_daily_arrays,
        )

        run, spark, wh, tr = self.run, self.spark, self.wh, self.run.tracer
        land = os.path.join(run.work_dir, "landing", f"b{b}")
        expect = datagen.landing_batch(land, run.seed, b, wh.regions, ETL_DAYS, ETL_TEXTS)
        stage = os.path.join(run.work_dir, "stage", f"b{b}")
        out = {t: f"{wh.root}/v{b}/{t}" for t in ("dim_location", "fact_weather")}
        crop_req = f"{wh.root}/crop_requirements/batch={b}"
        mv = f"{wh.root}/mv/v{b}"
        audit = f"{wh.root}/audit/batch={b}"
        as_of = (np.datetime64("2024-01-01") + 7 * b).astype(str)
        runner = PipelineRunner(spark, audit)

        def write(path, partition_by=None):
            def sink(df):
                tr.catalyst(df)
                df, rows = _observed_rows(df)
                w = df.write.mode("errorifexists")
                if partition_by:
                    w = w.partitionBy(*partition_by)
                w.parquet(path)
                return rows.get["rows"]
            return sink

        def phase(layer, name, build, sink):
            with tr.span(layer):
                runner.run_phase(name, build, sink)

        with run.timed() if timed else _untimed() as t:
            # 1. parse the landed payloads
            phase("sources.landing_parse", "parse_soil", lambda: parse_soil_payload(
                spark.read.schema(SOIL_SCHEMA).json(f"{land}/soil.json")),
                write(f"{stage}/soil"))
            phase("sources.landing_parse", "parse_weather", lambda: unzip_daily_arrays(
                spark.read.schema(WEATHER_SCHEMA).json(f"{land}/weather.json")
                .select("location_key", "daily.*"),
                {"day": "time", "tmax": "temperature_2m_max", "tmin": "temperature_2m_min",
                 "precip": "precipitation_sum", "humidity": "relative_humidity_2m_mean"}),
                write(f"{stage}/weather"))

            # 2. clean and extract: the soil and weather cleaning is narrow
            # column work and runs inside the merge and write plans below;
            # the crop texts get their own phase (the regex chain)
            def clean_soil():
                s = spark.read.parquet(f"{stage}/soil")
                clay = C.fraction_to_percent(F.col("clay_0_5cm"))
                sand = C.fraction_to_percent(F.col("sand_0_5cm"))
                silt = C.fraction_to_percent(F.col("silt_0_5cm"))
                return s.select(
                    "location_key",
                    K.location_hash(F.col("latitude"), F.col("longitude")).alias("location_hash"),
                    "latitude", "longitude", "region_name",
                    F.lit("US").alias("country_code"),
                    clay.alias("clay_percent"), sand.alias("sand_percent"),
                    silt.alias("silt_percent"),
                    C.fix_ph_scale(F.col("ph_0_5cm")).alias("ph_level"),
                    C.usda_texture(clay, sand, silt).alias("soil_texture"),
                )

            def clean_weather():
                w = spark.read.parquet(f"{stage}/weather")
                d = F.to_date("day")
                lo, hi = C.ordered_pair(
                    C.fahrenheit_to_celsius_if_needed(C.scrub_nan_inf(F.col("tmin"))),
                    C.fahrenheit_to_celsius_if_needed(C.scrub_nan_inf(F.col("tmax"))),
                )
                return w.select(
                    K.date_key(d).alias("date_key"), "location_key",
                    hi.alias("temp_max_c"), lo.alias("temp_min_c"),
                    ((hi + lo) / 2.0).alias("temp_mean_c"),
                    C.clamp(C.scrub_nan_inf(F.col("precip")), 0.0, 2000.0).alias("precipitation_mm"),
                    C.clamp(F.col("humidity"), 0.0, 100.0).alias("humidity_percent"),
                    F.lit(None).cast("double").alias("wind_speed_ms"),
                    F.lit(None).cast("int").alias("weather_code"),
                    F.lit(f"batch_{b}").alias("batch_id"),
                    F.year(d).alias("year"), F.month(d).alias("month"),
                )

            def extract_crops():
                clean = F.col("raw_text")
                for pat, repl in C.clean_pipeline_steps():
                    clean = F.regexp_replace(clean, pat, repl)
                # one projection computes the cleaned text; the extractors
                # below read it as a column instead of repeating the chain
                c = spark.read.schema(CROPS_SCHEMA).json(f"{land}/crops.json").select(
                    "text_id", "crop_name", C.collapse_whitespace(clean).alias("clean_text"))
                text = F.col("clean_text")
                tmin, tmax = X.extract_temp_range(text)
                ph_min, ph_max = X.extract_ph_range(text)
                water, sun = X.extract_water_mm_day(text), X.extract_sunlight_hours(text)
                found = [tmin.isNotNull(), water.isNotNull(), sun.isNotNull(), ph_min.isNotNull()]
                evidence = sum(F.when(f, 1).otherwise(0) for f in found)
                return c.select(
                    K.idempotency_key("crop_text", F.col("text_id").cast("string")).alias("idem_key"),
                    "text_id", C.canonical_crop_name(F.col("crop_name")).alias("crop_name"),
                    tmin.alias("temp_min_c"), tmax.alias("temp_max_c"),
                    water.alias("water_mm_day"), sun.alias("sunlight_hours"),
                    ph_min.alias("ph_min"), ph_max.alias("ph_max"),
                    X.confidence_score(*found, evidence).alias("confidence"),
                )

            phase("functions.clean_extract", "extract_crops", extract_crops,
                  write(f"{stage}/crops"))

            # 3. merge into the dimensions
            def merge_location():
                dim = spark.read.parquet(wh.tables["dim_location"])
                inc = clean_soil().select(
                    *[c for c in dim.columns if c not in
                      ("effective_date", "expiration_date", "is_current")])
                return scd2_apply(dim, inc, "location_key", ["region_name"], as_of)

            def merge_crops():
                existing = spark.read.parquet(f"{wh.root}/crop_requirements")
                return insert_if_absent(existing, spark.read.parquet(f"{stage}/crops"), "idem_key")

            phase("operators.merge", "scd2_dim_location", merge_location,
                  write(out["dim_location"]))
            phase("operators.merge", "insert_crop_requirements", merge_crops, write(crop_req))

            # 4. write the fact table
            def merge_weather():
                return upsert(
                    spark.read.parquet(wh.tables["fact_weather"]),
                    clean_weather(),
                    ["date_key", "location_key"],
                )

            phase("warehouse.write", "write_fact_weather", merge_weather,
                  write(out["fact_weather"], ["year", "month"]))

            # 5. refresh the materialized view
            def refresh(df):
                tr.catalyst(df)
                df, rows = _observed_rows(df)
                refresh_materialized_view(df, mv)
                return rows.get["rows"]

            with tr.span("pipeline.mv_refresh"):
                with run.timed(total=False) if timed else _untimed() as tq:
                    runner.run_phase("refresh_mv", lambda: _mv_frame(
                        spark, out["fact_weather"], out["dim_location"],
                        wh.tables["dim_crop"]), refresh)
            with tr.span("pipeline.audit_flush"):
                runner.flush_audit()

        # outside the timing: bookkeeping, then free what the batch superseded
        landed = expect["locations"] + expect["weather_rows"] + expect["texts"]
        if timed:
            run.add("batch", t["wall_s"])
            run.add("query", tq["wall_s"])
            run.count("landed_rows", landed)
            n_files, n_bytes = _dir_stats([stage, *out.values(), crop_req, mv, audit])
            run.count("warehouse.files_written", n_files)
            run.count("warehouse.bytes_written_mb", n_bytes / 2**20)
        old = dict(wh.tables)
        old_mv = wh.mv_path
        wh.tables.update(out)
        wh.mv_path = mv
        for name in out:
            shutil.rmtree(old[name], ignore_errors=True)
        if old_mv:
            shutil.rmtree(old_mv, ignore_errors=True)
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        self.expect = expect
        wh.regions = expect["regions"]
        wh.dim_rows += expect["changed"] + expect["new"]
        wh.fact_rows += expect["weather_rows"] - (len(wh.regions) if b > 0 else 0)

    def compact(self) -> None:
        from automated_agro_climatic_data_warehouse_spark.warehouse import compact_parquet_dir

        with self.run.tracer.span("warehouse.compact"):
            with self.run.timed():
                compact_parquet_dir(
                    self.spark, self.wh.tables["fact_weather"], partition_cols=["year", "month"]
                )

    # ---- output check (DuckDB over the written parquet)

    def check(self, b: int) -> None:
        import duckdb

        from automated_agro_climatic_data_warehouse_spark.oracle import multiset

        wh, e, run = self.wh, self.expect, self.run
        dim, fact = wh.tables["dim_location"], wh.tables["fact_weather"]
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{run.work_dir}/duckdb'")

        def one(sql):
            return con.execute(sql).fetchone()[0]

        bad = one(f"""SELECT count(*) FROM (SELECT location_key FROM
            read_parquet('{dim}/*.parquet') WHERE is_current
            GROUP BY location_key HAVING count(*) <> 1)""")
        if bad:
            run.problem(f"batch {b}: {bad} natural keys without exactly one current row")
        n_dim = one(f"SELECT count(*) FROM read_parquet('{dim}/*.parquet')")
        if n_dim != wh.dim_rows:
            run.problem(f"batch {b}: dim_location has {n_dim} rows, expected {wh.dim_rows}")
        fact_glob = f"read_parquet('{fact}/**/*.parquet', hive_partitioning = true)"
        dups = one(f"""SELECT count(*) FROM (SELECT date_key, location_key FROM {fact_glob}
            GROUP BY date_key, location_key HAVING count(*) > 1)""")
        if dups:
            run.problem(f"batch {b}: {dups} duplicate (date_key, location_key) facts")
        n_fact = one(f"SELECT count(*) FROM {fact_glob}")
        if n_fact != wh.fact_rows:
            run.problem(f"batch {b}: fact_weather has {n_fact} rows, expected {wh.fact_rows}")
        truth = con.execute(_mv_oracle_sql(fact, dim, wh.tables["dim_crop"])).fetchall()
        got = con.execute(
            f"SELECT {', '.join(MV_COLUMNS)} FROM read_parquet('{wh.mv_path}/*.parquet')"
        ).fetchall()
        if multiset(got, MV_COLUMNS) != multiset(truth, MV_COLUMNS):
            run.problem(f"batch {b}: materialized view differs from its oracle "
                        f"({len(got)} rows vs {len(truth)})")
        audit = dict(con.execute(f"""SELECT pipeline_name, records_processed FROM
            read_parquet('{wh.root}/audit/batch={b}/*.parquet') WHERE status = 'SUCCESS'"""
                                 ).fetchall())
        want = {
            "parse_soil": e["locations"], "parse_weather": e["weather_rows"],
            "extract_crops": e["texts"], "scd2_dim_location": wh.dim_rows,
            "insert_crop_requirements": e["texts_new"],
            "write_fact_weather": wh.fact_rows, "refresh_mv": len(truth),
        }
        if audit != want:
            diff = {k: (audit.get(k), v) for k, v in want.items() if audit.get(k) != v}
            run.problem(f"batch {b}: audit rows (got, expected) {diff}")
        con.close()


def etl_workload(run: Run) -> None:
    load = DailyLoad(run)
    load.setup()
    batches = iter(range(ETL_WARM_BATCHES, 1 << 30))

    def one_pass() -> bool:
        b = next(batches)
        run.attempted += 1
        n_problems = len(run.problems)
        try:
            load.batch(b, timed=True)
            load.compact()
        except Exception:  # noqa: BLE001 - count it and stop: state is unknown
            traceback.print_exc()
            run.failed += 1
            return False
        with run.tracer.span("oracle.check"):
            load.check(b)
        run.failed += len(run.problems) > n_problems
        return True

    run.timed_passes(one_pass)
    run.counters["stored_mb"] = _dir_stats([load.wh.root])[1] / 2**20
