"""The benchmark's workloads: each is a fixed list of ops, one pass.

An op is one query built and collected, or one landing / read-back call.
Every op has a timed ``run`` and an untimed ``check`` that returns a
mismatch message or ``None``.  The seed permutes the op order of every pass
(so no op always runs first) and seeds the ingest generator; the query
tables themselves are fixed (see ``gen.py``).
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

REFERENCE_ANALYTICS = [
    "q01_count_on_date", "q02_hour_window_count", "q03_readings_per_dow",
    "q04_running_avg_per_dow", "q05_sunday_evening_count", "q06_max_speed",
    "q07_vehicles_per_speed", "q08_longest_trip", "q09_counts_by_dates",
    "q10_trips_per_vehicle", "q11_trips_per_date_dayname", "q12_trip_start_end",
    "q13_scalar_subquery_points", "q14_in_list_counts", "q15_service_key_counts",
    "q16_speed_lag", "q17_backfill_clip", "q18_dedup_first_event", "q19_validation_counts",
    "q20_trip_full_view", "q21_join_using_segment", "q22_bbox_distinct_trips",
    "q23_tracking_daily", "q24_union_counts", "q25_timestamp_roundtrip", "q26_json_extract",
    "q27_pricing_summary", "q28_top_value_events", "q29_distinct_event_types",
    "q30_hour_histogram", "q31_user_series", "q32_haversine_segments",
    "q33_warehouse_roundtrip",
]
# build >= 1.5x execution: eager Spark jobs and py4j expression building
# inside plan construction (x130/x131 launch no build jobs at all)
EAGER_BUILD = [
    "x97_snapshot_refresh", "x126_bpe_vocabulary", "x128_mmr_rerank", "x130_top_component",
    "x131_remove_top_component", "x144_label_propagation", "x146_triangle_stats",
    "x156_cluster_size_histogram", "x158_perceptron_train", "x188_incremental_components",
    "x38_semantic_cluster_centroids",
]
# no build jobs, cheap build, execution-bound shuffles (the n-gram ladder)
SHUFFLE_EXEC = [
    "x15_approx_distinct", "x80_bigram_surprisal", "x83_span_dedup", "x143_importance_weights",
    "x145_ccnet_buckets", "x149_lang_reid_confusion", "x190_column_stats",
    "x205_point_in_any_polygon", "x207_column_stats_approx_gate", "x99_trigram_kneser_ney",
    "x94_fourgram_jm_surprisal",
]
QUERY_WORKLOADS = {
    "reference_analytics": REFERENCE_ANALYTICS,
    "eager_build": EAGER_BUILD,
    "shuffle_exec": SHUFFLE_EXEC,
}
WORKLOADS = (*QUERY_WORKLOADS, "stream_ingest")
# tables are sf 0.01 (60 000 lineitem rows) except for shuffle_exec: its
# point is execution, and at sf 0.01 py4j plan building is a quarter of
# its op time; at sf 0.1 execution dominates
WORKLOAD_SF = {"shuffle_exec": 0.1}


def scale(workload: str) -> float:
    return WORKLOAD_SF.get(workload, 0.01)


# stream_ingest shape: generations landed per pass, fresh trips per
# generation, pings per fresh trip (FIXTURES.md §1: ~180 pings per trip),
# and the generations after which a read-back runs
GENERATIONS = 4
TRIPS_PER_GEN = 45
PINGS = 180
READBACK_AFTER = (1, 3)


class Phases:
    """Times named phases of one op.  Traced runs also tag each phase's
    Spark jobs with a job group and count py4j calls made inside it."""

    def __init__(self, spark, py4j=None, group_prefix: str = "") -> None:
        self._sc = spark.sparkContext if spark is not None else None
        self._py4j = py4j
        self.trace = py4j is not None
        self.times: dict[str, float] = {}
        self.py4j: dict[str, tuple[int, float]] = {}
        self.extra: dict[str, float] = {}
        self.group_prefix = group_prefix

    def __call__(self, name: str):
        return self._traced(name) if self.trace else nullcontext()

    @contextmanager
    def _traced(self, name: str):
        self._sc.setJobGroup(f"{self.group_prefix}{name}", name)
        calls0, secs0 = self._py4j.snapshot()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[name] = self.times.get(name, 0.0) + time.perf_counter() - t0
            calls1, secs1 = self._py4j.snapshot()
            self.py4j[name] = (calls1 - calls0, secs1 - secs0)
            self.extra[f"{name}_t0"] = t0


@dataclass
class Op:
    name: str
    kind: str  # query | land | readback | replay
    run: Callable[[Phases], object]
    check: Callable[[object], str | None]
    prepare: Callable[[], None] = lambda: None
    meta: dict = field(default_factory=dict)


def attempt(op: Op, phases: Phases) -> tuple[float, object, str | None]:
    """Run one op: ``(seconds, result, error)``.  An op that raises is a
    failed op, not a failed run."""
    t0 = time.perf_counter()
    try:
        result, error = op.run(phases), None
    except Exception as e:
        result, error = None, f"raised {type(e).__name__}: {str(e).strip()[:200]}"
    return time.perf_counter() - t0, result, error


def verdict(op: Op, result, error: str | None) -> str | None:
    """The op's error, else its output check's mismatch message."""
    if error is not None:
        return error
    try:
        return op.check(result)
    except Exception as e:  # a check that cannot run counts as a mismatch
        return f"check raised {type(e).__name__}: {e}"


def op_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded order of one pass: a fresh permutation per pass."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def plan_counts(df) -> tuple[int, int]:
    """(exchanges, nodes) in the physical plan Catalyst produced."""
    lines = [ln for ln in df._jdf.queryExecution().executedPlan().toString().splitlines() if ln.strip()]
    return sum("Exchange" in ln for ln in lines), len(lines)


def collect_query(spark, phases: Phases, build: Callable[[], object]):
    """Build a DataFrame, plan it (traced runs only) and collect it."""
    with phases("build"):
        df = build()
    if phases.trace:
        with phases("plan"):
            df._jdf.queryExecution().executedPlan()
        phases.extra["exchanges"], phases.extra["plan_nodes"] = plan_counts(df)
    with phases("collect"):
        rows = df.collect()
    phases.extra["rows"] = len(rows)
    return df.schema, rows


def rows_to_pandas(schema, rows, timezone: str):
    """The frame ``DataFrame.toPandas()`` returns for these rows (its
    non-Arrow path), so ``run_window_check.compare`` sees the types it
    expects."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = [f.name for f in schema.fields]
    if rows:
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=names)
    else:
        pdf = pd.DataFrame(columns=names)
    if not names:
        return pdf
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType, f.nullable, timezone=timezone, struct_in_pandas="row",
                error_on_duplicated_field_names=False, timestamp_utc_localized=False,
            )(pser)
            for (_, pser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def query_ops(spark, names: list[str], sf_dir: str, oracles: dict, compare) -> list[Op]:
    from trimet_bytes__data_engineering_project_spark.plans import QUERIES

    tz = spark.conf.get("spark.sql.session.timeZone")

    def make(name: str) -> Op:
        def run(phases: Phases):
            return collect_query(spark, phases, lambda: QUERIES[name](spark, sf_dir))

        def check(result) -> str | None:
            schema, rows = result
            return compare(name, rows_to_pandas(schema, rows, tz), oracles[name])

        return Op(name, "query", run, check)

    return [make(n) for n in names]


# --- stream_ingest ------------------------------------------------------------


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def _tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class IngestPass:
    """One pass of stream_ingest in its own directories: land each
    generation through ``run_ingest_pipeline``, read back a J3-shaped
    trip x breadcrumb x stop_events aggregate between landings, and end
    with a replay that finds no new files.

    Lands outnumber read-backs, so the run's median op is a landing rather
    than the boundary between the two latency clusters."""

    def __init__(self, spark, root: str, gens: list[dict], se_path: str, se_per_trip: dict) -> None:
        self.spark, self.root, self.gens = spark, root, gens
        self.se_path, self.se_per_trip = se_path, se_per_trip
        self.p = {k: os.path.join(root, k) for k in ("landing", "trip", "breadcrumb", "quarantine", "ckpt")}

    def reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.p["landing"])

    def _land(self, phases: Phases):
        from trimet_bytes__data_engineering_project_spark.streaming import run_ingest_pipeline

        with phases("land"):
            run_ingest_pipeline(
                self.spark, self.p["landing"], self.p["trip"], self.p["breadcrumb"], self.p["ckpt"],
                quarantine_path=self.p["quarantine"],
            )

    def _expect(self, g: int) -> dict:
        """What a correct landing holds after generations 0..g."""
        upto = self.gens[: g + 1]
        return {
            "breadcrumb": sum(x["valid"] for x in upto),
            "quarantine": sum(x["quarantined"] for x in upto),
            "trips": upto[-1]["trips"],
        }

    def _check_landed(self, g: int) -> str | None:
        import pyarrow.parquet as pq

        want = self._expect(g)
        got_bc, got_q = _parquet_rows(self.p["breadcrumb"]), _parquet_rows(self.p["quarantine"])
        if (got_bc, got_q) != (want["breadcrumb"], want["quarantine"]):
            return (f"landed breadcrumb/quarantine rows {got_bc}/{got_q}, "
                    f"want {want['breadcrumb']}/{want['quarantine']}")
        ids = pq.read_table(self.p["trip"], columns=["trip_id"]).column(0).to_pylist()
        if len(ids) != len(set(ids)) or set(ids) != want["trips"]:
            return f"trip table has {len(ids)} rows / {len(set(ids))} ids, want {len(want['trips'])}"
        return None

    def _readback(self, phases: Phases):
        from pyspark.sql import functions as F

        from trimet_bytes__data_engineering_project_spark.plans.warehouse import trip_full_view

        spark = self.spark

        def build():
            view = trip_full_view(
                spark.read.parquet(self.p["trip"]),
                spark.read.parquet(self.p["breadcrumb"]),
                spark.read.parquet(self.se_path),
            )
            return view.agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("trip_id").alias("trips"),
                F.count("trip_number").alias("stop_rows"),
            )

        return collect_query(spark, phases, build)

    def _check_readback(self, g: int, result) -> str | None:
        _, rows = result
        got = tuple(rows[0])
        valid = self.gens[g]["valid_per_trip"]
        want = (
            sum(n * max(1, self.se_per_trip.get(t, 0)) for t, n in valid.items()),
            len(valid),
            sum(n * self.se_per_trip.get(t, 0) for t, n in valid.items()),
        )
        return None if got == want else f"read-back (rows, trips, stop rows) {got}, want {want}"

    def ops(self) -> list[Op]:
        ops: list[Op] = []
        for g, gen in enumerate(self.gens):
            def prepare(gen=gen):
                for fname, text in gen["files"].items():
                    tmp = os.path.join(self.root, fname + ".tmp")
                    with open(tmp, "w") as f:
                        f.write(text)
                    os.rename(tmp, os.path.join(self.p["landing"], fname))  # atomic arrival

            ops.append(Op(f"land:g{g}", "land", self._land, lambda _r, g=g: self._check_landed(g),
                          prepare, {"rows": gen["rows"], "bytes": gen["bytes"]}))
            if g in READBACK_AFTER:
                ops.append(Op(f"readback:g{g}", "readback", self._readback,
                              lambda r, g=g: self._check_readback(g, r)))
        last = len(self.gens) - 1
        ops.append(Op("replay", "replay", self._land, lambda _r: self._check_landed(last),
                      meta={"rows": 0, "bytes": 0}))
        return ops

    def written(self) -> tuple[int, int]:
        """(files, bytes) of parquet written by landings so far."""
        files = size = 0
        for k in ("trip", "breadcrumb", "quarantine"):
            n, b = _tree_bytes(self.p[k])
            files += n
            size += b
        return files, size
