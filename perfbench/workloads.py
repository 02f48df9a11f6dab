"""The benchmark workloads and their correctness checks.

A workload is a fixed list of operations (one *pass*) that the closed
loop in ``run.py`` repeats. Each operation returns its latency in
seconds; untimed correctness checks count mismatches as failures.

* ``corpus_curation`` runs registered LLM-data queries. An operation is
  one query: build (the registered callable) plus action (collect to
  the driver). Every result, warm-up pass included, is compared
  order-insensitively with the query's DuckDB oracle on the same
  generated files.
* ``lake_etl`` runs the reference EtLT one landing file at a time: an
  operation is one cycle (landing file closed -> rows committed in the
  warehouse) or one lake compaction. Correctness: the final
  ``meteor_proc``/``loc_proc`` against the end state computed with
  pandas from the landing files alone.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

QUERY_SF = 0.01

CORPUS_QUERIES = [
    "q41_ngram_jaccard_topk",
    "q57_fingerprint",
    "q44_embedding_near_dup",
    "q66_decode_stub",
]

LAKE_CYCLES = 48  # landing files generated; a run stops early if it uses them all
LAKE_POLLS = 96  # one day of 15-minute polls per landing file
LAKE_COMPACT_EVERY = 2  # cycles between lake compactions
WARMUP_CYCLES = 2

# Latencies and CPU seconds keep falling over the first several
# executions while the JIT compiles, so a run's figures depend on how many
# executions it timed. Each run times at least this many passes; they
# take longer than BENCHMARK.json's run_seconds even on a quiet host, so
# every run measures the same executions.
QUERY_MIN_PASSES = 6
LAKE_MIN_PASSES = 2


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form (the scripts/check_oracle.py rule):
    columns by name, dates and timestamps as ISO text, nulls as a
    marker, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object and s.map(lambda v: v is None or isinstance(v, dt.date)).all():
            if s.notna().any():
                df[c] = s = pd.to_datetime(s)
        if "datetime" in str(s.dtype):
            df[c] = s.map(lambda v: "∅" if pd.isna(v) else v.isoformat())
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: "∅" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v)
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    if not g.equals(w):
        bad = [c for c in g.columns if not g[c].equals(w[c])]
        return f"values differ in {bad}"
    return None


class QueryWorkload:
    """Registered queries over the generated fixture tables."""

    def __init__(self, spark, inputs: str, names: list[str]):
        from tp_integ_data_pipeline_spark import plans

        self.spark = spark
        self.inputs = inputs
        self.queries = plans.QUERIES
        self.oracles = plans.ORACLES
        self.ops = [(n, self._op(n)) for n in names]
        self.min_passes = QUERY_MIN_PASSES
        self.tracer = None  # set by run.py for traced runs
        self.last: tuple[str, pd.DataFrame] | None = None
        self.expected: dict[str, pd.DataFrame] = {}
        self.con = None

    def _op(self, name):
        def run() -> float:
            t0 = time.perf_counter()
            span = self.tracer.begin("plans.build") if self.tracer else None
            df = self.queries[name](self.spark, self.inputs)
            if span is not None:
                self.tracer.end(span)
            self.last = (name, df.toPandas())
            return time.perf_counter() - t0

        return run

    def start_pass(self) -> None:
        # shared prework (plans.session_cache) is reused within a pass,
        # rebuilt once per pass, as in a pipeline run
        from tp_integ_data_pipeline_spark.plans.session_cache import _CACHES

        _CACHES.clear()

    def warmup(self, log) -> tuple[float, int, int]:
        """One untimed pass, every result checked: (seconds, checks, failures)."""
        self.start_pass()
        spent = checks = failed = 0
        for name, op in self.ops:
            try:
                spent += op()
            except Exception as e:  # noqa: BLE001 - an engine error is a failure
                failed += 1
                log(f"FAIL {name}: {type(e).__name__}: {str(e)[:300]}")
            c, f = self.check(log)
            checks, failed = checks + c, failed + f
        return spent, len(self.ops) + checks, failed

    def check(self, log) -> tuple[int, int]:
        """Compare the last operation's result with its DuckDB oracle.
        Returns (checks, failures)."""
        if self.last is None:
            return 0, 0
        name, got = self.last
        self.last = None
        try:
            if name not in self.expected:
                if self.con is None:
                    import duckdb

                    self.con = duckdb.connect()
                    for p in sorted(glob.glob(f"{self.inputs}/*.parquet")):
                        table = os.path.basename(p)[: -len(".parquet")]
                        self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{p}'")
                self.expected[name] = self.con.execute(self.oracles[name]).df()
            why = frames_match(got, self.expected[name])
        except Exception as e:  # noqa: BLE001 - an oracle error fails the check
            why = f"oracle error {type(e).__name__}: {str(e)[:300]}"
        if why:
            log(f"FAIL {name}: {why}")
        return 1, int(why is not None)

    def finish(self, log) -> tuple[int, int]:
        if self.con is not None:
            self.con.close()
        return 0, 0

    def start_timing(self) -> None:
        pass

    def after_op(self) -> None:
        pass

    def exhausted(self) -> bool:
        return False


class LakeWorkload:
    """Reference EtLT: landing file -> streaming ingest into the lake ->
    transform and MERGE into the warehouse, one cycle at a time."""

    def __init__(self, spark, inputs: str, run_dir: str):
        from tp_integ_data_pipeline_spark.sources.lake import DataLake

        self.spark = spark
        self.inputs = inputs
        self.landing = os.path.join(run_dir, "landing")
        self.checkpoint = os.path.join(run_dir, "ingest_checkpoint")
        self.lake_root = os.path.join(run_dir, "lake")
        self.warehouse = os.path.join(run_dir, "warehouse")
        os.makedirs(self.landing)
        self.lake = DataLake(spark, self.lake_root)
        self.schema = spark.read.parquet(self._staged("weather", 0)).schema
        self.next_cycle = 0
        self.ops = [("cycle", self.cycle)] * LAKE_COMPACT_EVERY + [("compact", self.compact)]
        self.min_passes = LAKE_MIN_PASSES
        self.landing_bytes = 0  # landing files ingested so far
        self.offered_rows = 0
        self.timed_landing_bytes = 0
        self.written = {"lake": [0, 0], "warehouse": [0, 0]}  # [files, bytes] while timed
        self._seen: set[str] = set()

    def _staged(self, kind: str, c: int) -> str:
        return os.path.join(self.inputs, f"{kind}_{c:04d}.parquet")

    def exhausted(self) -> bool:
        return self.next_cycle >= LAKE_CYCLES

    def cycle(self) -> float:
        from tp_integ_data_pipeline_spark.plans.pipelines import run_transform_and_load
        from tp_integ_data_pipeline_spark.streaming.ingest import start_microbatch_ingest

        c = self.next_cycle
        self.next_cycle += 1
        day = gen.lake_cycle_date(c)
        src = self._staged("weather", c)
        size = os.path.getsize(src) + os.path.getsize(self._staged("localities", c))
        self.landing_bytes += size
        self.timed_landing_bytes += size
        self.offered_rows += pq.ParquetFile(src).metadata.num_rows
        t0 = time.perf_counter()
        shutil.copyfile(src, os.path.join(self.landing, f".w{c:04d}.tmp"))
        os.replace(  # the landing file is closed: visible to the stream
            os.path.join(self.landing, f".w{c:04d}.tmp"),
            os.path.join(self.landing, f"weather_{c:04d}.parquet"),
        )
        self.lake.write_full(
            "localid", self.spark.read.parquet(self._staged("localities", c)), dedup_keys=["id"]
        )
        start_microbatch_ingest(
            self.spark,
            self.landing,
            self.schema,
            self.lake,
            "regmeteor",
            partition_cols=["fecha_partic"],
            dedup_keys=["time"],
            checkpoint_dir=self.checkpoint,
            probe_partitions=True,
        ).awaitTermination()
        run_transform_and_load(
            self.spark, self.lake, self.warehouse, load_date=day, merge_date=day
        )
        return time.perf_counter() - t0

    def compact(self) -> float:
        t0 = time.perf_counter()
        self.lake.compact("regmeteor")
        return time.perf_counter() - t0

    def start_pass(self) -> None:
        pass

    def warmup(self, log) -> tuple[float, int, int]:
        """The first WARMUP_CYCLES cycles: (seconds, cycles, failures).
        A cycle right after the first still runs ~1.5x slower while the
        JIT settles, so one warm-up cycle is not enough."""
        spent = failed = 0
        for _ in range(WARMUP_CYCLES):
            try:
                spent += self.cycle()
            except Exception as e:  # noqa: BLE001 - an engine error is a failure
                failed += 1
                log(f"FAIL cycle: {type(e).__name__}: {str(e)[:300]}")
        return spent, WARMUP_CYCLES, failed

    def check(self, log) -> tuple[int, int]:
        return 0, 0

    def _parquet_files(self, root: str) -> dict[str, int]:
        return {
            os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        }

    def start_timing(self) -> None:
        self.timed_landing_bytes = 0
        self._seen = set(self._parquet_files(self.lake_root)) | set(self._parquet_files(self.warehouse))

    def after_op(self) -> None:
        """Count the parquet files the last operation wrote."""
        for kind, root in (("lake", self.lake_root), ("warehouse", self.warehouse)):
            for path, size in self._parquet_files(root).items():
                if path not in self._seen:
                    self._seen.add(path)
                    self.written[kind][0] += 1
                    self.written[kind][1] += size

    def finish(self, log) -> tuple[int, int]:
        """Compare the warehouse with the end state of the cycles run."""
        from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable

        want_meteor, want_loc = expected_warehouse(
            [self._staged("weather", c) for c in range(self.next_cycle)],
            [self._staged("localities", c) for c in range(self.next_cycle)],
            gen.lake_cycle_date(self.next_cycle - 1),
        )
        failed = 0
        for table, want in (("meteor_proc", want_meteor), ("loc_proc", want_loc)):
            try:
                got = VersionedParquetTable(self.spark, f"{self.warehouse}/{table}").read().toPandas()
                why = frames_match(got, want)
            except Exception as e:  # noqa: BLE001
                why = f"{type(e).__name__}: {str(e)[:300]}"
            if why:
                failed += 1
                log(f"FAIL {table}: {why}")
        return 2, failed

    def live_bytes(self) -> int:
        """Bytes a reader needs: the lake plus the warehouse's current versions."""
        from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable

        live = sum(self._parquet_files(self.lake_root).values())
        for table in ("meteor_proc", "loc_proc"):
            cur = VersionedParquetTable(self.spark, f"{self.warehouse}/{table}").current_version_dir()
            live += sum(self._parquet_files(cur).values()) if cur else 0
        return live

    def lake_rows(self) -> int:
        return sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in self._parquet_files(os.path.join(self.lake_root, "regmeteor"))
        )


def lake_layer_metrics(wl: LakeWorkload | None, samples: dict, passes: float) -> dict:
    """lake_etl write/space amplification and cycle tail; zeros for the
    query workloads, which write nothing."""
    names = (
        "sources.lake.rows_appended_ratio", "sources.lake.files_written", "sources.lake.bytes_written",
        "operators.table_store.bytes_rewritten", "lake_etl.written_bytes_per_input_byte",
        "lake_etl.stored_bytes_per_input_byte", "lake_etl.cycle_max_s",
    )
    if wl is None:
        return dict.fromkeys(names, 0.0)
    written = wl.written["lake"][1] + wl.written["warehouse"][1]
    return {
        "sources.lake.rows_appended_ratio": wl.lake_rows() / wl.offered_rows,
        "sources.lake.files_written": wl.written["lake"][0] / passes,
        "sources.lake.bytes_written": wl.written["lake"][1] / passes,
        "operators.table_store.bytes_rewritten": wl.written["warehouse"][1] / passes,
        "lake_etl.written_bytes_per_input_byte": written / max(1, wl.timed_landing_bytes),
        "lake_etl.stored_bytes_per_input_byte": wl.live_bytes() / wl.landing_bytes,
        "lake_etl.cycle_max_s": max(samples["cycle"], default=0.0),
    }


_CARDINAL = [  # the reference wind mapping (functions.reference.wind_cardinal)
    (lambda d: d == 0 or d == 360, "N"),
    (lambda d: 0 < d < 90, "NO"),
    (lambda d: d == 90, "W"),
    (lambda d: 90 < d < 180, "SE"),
    (lambda d: d == 180, "S"),
    (lambda d: 180 < d < 270, "SO"),
    (lambda d: d == 270, "E"),
]


def _cardinal(d: float) -> str:
    return next((label for test, label in _CARDINAL if test(d)), "NE")


def expected_warehouse(
    weather_files: list[str], locality_files: list[str], last_day: dt.date
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """meteor_proc and loc_proc as the reference defines them, computed
    from the landing files without the engine: first delivery of each
    poll time and of each locality id wins; times shift to GMT-3."""
    w = pa.concat_tables([pq.read_table(p) for p in weather_files]).to_pandas()
    w = w.drop_duplicates("time", keep="first")
    locs = pa.concat_tables([pq.read_table(p) for p in locality_files]).to_pylist()
    first: dict[int, dict] = {}
    for loc in locs:
        first.setdefault(loc["id"], loc)
    local = w["time"].dt.tz_convert(None) - pd.Timedelta(hours=3)
    meteor = pd.DataFrame(
        {
            "date": local.dt.strftime("%d/%m/%Y"),
            "time": local.dt.strftime("%H:%M"),
            "interval": w["interval"],
            "temperature_2m": w["temperature_2m"],
            "relativehumidity_2m": w["relativehumidity_2m"],
            "apparent_temperature": w["apparent_temperature"],
            "is_day": w["is_day"] == 1,
            "precipitation": w["precipitation"],
            "rain": w["rain"],
            "pressure_msl": w["pressure_msl"] * 0.750064,
            "windspeed_10m": w["windspeed_10m"],
            "winddirection_10m": w["winddirection_10m"],
            "winddir_cardinal_10m": w["winddirection_10m"].map(_cardinal),
            "windgusts_10m": w["windgusts_10m"],
            "api_loc_id": w["api_loc_id"],
            "city": w["api_loc_id"].map(lambda i: first.get(i, {}).get("name")),
            "country": w["api_loc_id"].map(lambda i: first.get(i, {}).get("country")),
        }
    )
    rows = []
    for loc in first.values():
        row = dict(loc)
        pc = row["postcodes"]
        row["postcodes"] = None if pc is None else ", ".join(pc)
        for k in ("admin1", "admin2", "admin3", "admin4"):
            row[k] = None if row[k] == "None" else row[k]
        row["fecha_actualizacion_origen"] = last_day
        row["fecha_actualizacion"] = last_day
        rows.append(row)
    return meteor.reset_index(drop=True), pd.DataFrame(rows)


def prepare_inputs(workload: str, seed: int, root: str) -> str:
    """Generate (or reuse) the seeded input files; returns their dir."""
    out = os.path.join(root, f"{workload}-seed{seed}-v{gen.GENERATOR_VERSION}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    if workload == "lake_etl":
        gen.write_lake_landing(out, seed, LAKE_CYCLES, LAKE_POLLS)
    else:
        gen.write_star_corpus(out, seed, QUERY_SF)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def build(workload: str, spark, inputs: str, run_dir: str):
    if workload == "lake_etl":
        return LakeWorkload(spark, inputs, run_dir)
    return QueryWorkload(spark, inputs, CORPUS_QUERIES)


WORKLOADS = ("lake_etl", "corpus_curation")
