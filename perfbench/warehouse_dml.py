"""The ``warehouse_dml`` workload: the serving table's write path beside
its reads.

Seeded raw FHVHV months (wider than the warehouse schema, with NULL
``on_scene_datetime``) go through, per month: ``load_month`` on the
snapshot backend, ``snapshot_register`` to follow the new head (a load
does not move an existing view), four seeded SELECTs through
``snapshot_sql`` (two metadata fast-path ``COUNT(*) ... WHERE`` and two
``GROUP BY`` zone top-k that pass through to ``spark.sql``), one
seeded DELETE and one seeded UPDATE (IN-lists and ranges); the pass ends
with ``OPTIMIZE`` and ``VACUUM``. Every pass starts from a freshly
initialised empty table.

Every load and DML statement is mirrored into an in-memory DuckDB
table. Each SELECT result and each DML affected-row count is compared
with the mirror, and at the end a fresh ``snapshot_register`` read of
the table path is compared with the mirror row for row.
"""

from __future__ import annotations

import os
import random
import time

import duckdb
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.warehouse import load, snapshots, sqlfront

from . import checks, datagen, stats

WRITE_OPS = ("load_month", "delete", "update", "optimize", "vacuum")
READ_OPS = ("select_fast", "select_scan")
ALL_OPS = ("load_month", "register") + WRITE_OPS[1:] + READ_OPS
STATS_COLS = ["pickup_datetime", "pu_location_id", "do_location_id"]
MIRROR_COLS = """hvfhs_license_num, dispatching_base_num, request_datetime,
    on_scene_datetime, pickup_datetime, dropoff_datetime,
    CAST(PULocationID AS INTEGER) AS pu_location_id,
    CAST(DOLocationID AS INTEGER) AS do_location_id,
    sales_tax, congestion_surcharge, airport_fee, tips, driver_pay"""


def tree_sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def written_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new or changed between two listings."""
    return sum(s for p, s in after.items() if before.get(p) != s)


def _zones(rng: random.Random, k: int) -> str:
    return ", ".join(str(z) for z in sorted(rng.sample(range(1, 266), k)))


def statement_plan(seed: int, months: list[tuple[int, int]]) -> list[tuple[str, str]]:
    """The seeded per-pass statement sequence as ``(op, sql)``; ``load``
    and ``register`` steps carry the month as ``"year-month"``."""
    rng = random.Random(seed)
    plan: list[tuple[str, str]] = []
    for i, (y, m) in enumerate(months):
        plan.append(("load_month", f"{y}-{m}"))
        plan.append(("register", f"{y}-{m}"))
        for col in ("pu_location_id", "do_location_id"):
            plan.append((
                "select_fast",
                f"SELECT COUNT(*) AS n FROM fact WHERE {col} IN ({_zones(rng, 6)}) "
                f"AND month = {m}",
            ))
            plan.append((
                "select_scan",
                f"SELECT {col}, COUNT(*) AS n, SUM(driver_pay) AS pay FROM fact "
                f"WHERE month = {m} GROUP BY {col} ORDER BY n DESC, {col} LIMIT 10",
            ))
        day, hour = rng.randint(1, 27), rng.randint(0, 18)
        lo = f"'{y}-{m:02d}-{day:02d} {hour:02d}:00:00'"
        hi = f"'{y}-{m:02d}-{day:02d} {hour + 5:02d}:00:00'"
        if (i + seed) % 2 == 0:
            delete = f"DELETE FROM fact WHERE pu_location_id IN ({_zones(rng, 4)}) AND month = {m}"
            update = (
                f"UPDATE fact SET tips = tips + 1.0 WHERE pickup_datetime >= {lo} "
                f"AND pickup_datetime < {hi}"
            )
        else:
            delete = f"DELETE FROM fact WHERE pickup_datetime >= {lo} AND pickup_datetime < {hi}"
            update = (
                f"UPDATE fact SET tips = tips + 1.0 WHERE do_location_id IN ({_zones(rng, 4)}) "
                f"AND month = {m}"
            )
        plan.append(("delete", delete))
        plan.append(("update", update))
    plan.append(("optimize", "OPTIMIZE fact"))
    plan.append(("vacuum", "VACUUM fact RETAIN 0 HOURS"))
    return plan


class WarehouseWorkload:
    def __init__(self, spark, work_dir: str, seed: int, rows: int, months, tracer):
        self.spark, self.work, self.tracer = spark, work_dir, tracer
        self.plan = statement_plan(seed, months)
        self.raw = {
            f"{y}-{m}": (p, y, m)
            for p, y, m in datagen.write_fhvhv_months(
                os.path.join(work_dir, "raw"), seed, months, rows
            )
        }
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: list[tuple[str, float]] = []  # (op, ms) in run order
        self.pass_s: list[float] = []
        self.top_span_s: list[float] = []
        self.write_amp: list[float] = []
        self.space_amp: list[float] = []
        self.layer: dict[str, list[float]] = {}
        self._n_tables = 0
        self.path: str | None = None
        self._last_df = None
        self.con: duckdb.DuckDBPyConnection | None = None

    # -- table lifecycle --------------------------------------------------

    def init_table(self) -> None:
        """Create the empty snapshot table (partitioned by year/month,
        with per-file stats) and its empty DuckDB mirror."""
        self._n_tables += 1
        self.path = os.path.join(self.work, f"fact{self._n_tables}")
        raw0 = next(iter(self.raw.values()))[0]
        empty = load.transform_raw(self.spark.read.parquet(raw0)).limit(0).withColumns(
            {"year": F.lit(0).cast("int"), "month": F.lit(0).cast("int")}
        )
        with self.tracer.span("warehouse.snapshots.snapshot_write_with_stats"):
            snapshots.snapshot_write_with_stats(
                empty, self.path, STATS_COLS, partition_cols=["year", "month"]
            )
        if self.con is not None:
            self.con.close()
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE fact AS SELECT {MIRROR_COLS}, 0 AS year, 0 AS month "
            f"FROM read_parquet('{raw0}') LIMIT 0"
        )

    # -- one pass ---------------------------------------------------------

    def _run(self, op: str, arg: str):
        """Execute one plan step against the engine; returns the
        collected result (pandas for SELECTs, rows for DML)."""
        tr = self.tracer
        if op == "load_month":
            p, y, m = self.raw[arg]
            with tr.span("warehouse.load.load_month"):
                return load.load_month(
                    self.spark, p, y, m, backend="snapshot", snapshot_path=self.path
                )
        if op == "register":
            with tr.span("warehouse.snapshots.snapshot_register"):
                return snapshots.snapshot_register(self.spark, self.path, "fact")
        with tr.span("warehouse.sqlfront.snapshot_sql", op=op):
            df = sqlfront.snapshot_sql(self.spark, arg)
        self._last_df = df
        with tr.span("spark.collect"):
            return df.toPandas() if op in READ_OPS else df.collect()

    def _mirror(self, op: str, arg: str, got) -> str | None:
        """Apply the step to the DuckDB mirror and check the engine's
        answer against it; None means they agree."""
        if op == "load_month":
            p, y, m = self.raw[arg]
            self.con.execute(
                f"INSERT INTO fact SELECT {MIRROR_COLS}, {y} AS year, {m} AS month "
                f"FROM read_parquet('{p}')"
            )
            want = self.con.execute(
                f"SELECT COUNT(*) FROM fact WHERE year = {y} AND month = {m}"
            ).fetchone()[0]
            return None if got.rows == want else f"loaded {got.rows} rows, mirror {want}"
        if op in READ_OPS:
            return checks.compare(got, self.con.execute(arg).df())
        if op in ("delete", "update"):
            want = self.con.execute(arg).fetchone()[0]
            n = got[0]["num_affected_rows"]
            return None if n == want else f"{op} affected {n} rows, mirror {want}"
        return None

    def _files_read_frac(self) -> float:
        """Files the last SELECT's DataFrame reads over the live files."""
        live = snapshots.snapshot_files(self.spark, self.path).count()
        return len(self._last_df.inputFiles()) / live if live else 0.0

    def warm_pass(self) -> None:
        """Run every statement once, unmeasured and unchecked (warm-up).
        A statement that fails here fails again, counted, in the timed
        pass, so the warm-up only needs to get past it."""
        for op, arg in self.plan:
            self.tracer.new_op()
            try:
                with self.tracer.span(f"warehouse.{op}"):
                    self._run(op, arg)
            except Exception:  # counted by the timed pass
                pass

    def run_pass(self) -> None:
        tr = self.tracer
        sizes = tree_sizes(self.path)
        load_bytes = written_total = 0
        t0 = time.perf_counter()
        timed = 0.0
        for op, arg in self.plan:
            if op == "vacuum":
                self.layer.setdefault("warehouse.versions", []).append(
                    len(snapshots.snapshot_versions(self.spark, self.path))
                )
            tr.new_op()
            self.attempted += 1
            ts = time.perf_counter()
            try:
                with tr.span(f"warehouse.{op}"):
                    got = self._run(op, arg)
            except Exception as e:  # a failing statement is a counted failure
                self.failures.append(f"{op} [{arg}]: raised {e!r:.300}")
                continue
            dt = time.perf_counter() - ts
            timed += dt
            self.samples.append((op, dt * 1000.0))
            after = tree_sizes(self.path)
            wrote = written_bytes(sizes, after)
            sizes = after
            written_total += wrote
            err = self._mirror(op, arg, got)
            if err:
                self.failures.append(f"{op} [{arg}]: {err}")
            if op == "load_month":
                load_bytes += wrote
            if op in ("load_month", "delete", "update", "optimize"):
                self.layer.setdefault(f"warehouse.{op}.bytes_written", []).append(wrote)
            if op in ("delete", "update"):
                self.layer.setdefault(f"warehouse.{op}.rows_affected", []).append(
                    got[0]["num_affected_rows"]
                )
            if op == "select_scan" and tr.enabled:
                self.layer.setdefault("warehouse.select_scan.files_read_frac", []).append(
                    self._files_read_frac()
                )
        t1 = time.perf_counter()
        # pass time counts the statements only: the listing walks and
        # the DuckDB mirror between them are benchmark bookkeeping
        self.pass_s.append(timed)
        if tr.enabled:
            self.top_span_s.append(tr.top_level_seconds(t0, t1))
        head = snapshots.snapshot_files(self.spark, self.path).select("bytes").collect()
        head_bytes = sum(r["bytes"] for r in head)
        self.write_amp.append(written_total / load_bytes if load_bytes else 0.0)
        self.space_amp.append(sum(sizes.values()) / head_bytes if head_bytes else 0.0)
        self.layer.setdefault("warehouse.live_files", []).append(len(head))
        vdir = os.path.join(self.path, "_versions")
        self.layer.setdefault("warehouse.manifest_bytes", []).append(
            sum(s for p, s in sizes.items() if p.startswith(vdir))
        )

    def readback_check(self) -> None:
        """Durability check: a fresh registration of the table path must
        read back exactly the mirror's rows."""
        self.attempted += 1
        try:
            snapshots.snapshot_register(self.spark, self.path, "fact_readback")
            got = self.spark.table("fact_readback").toPandas()
        except Exception as e:  # a failed read-back is a counted failure
            self.failures.append(f"read-back raised {e!r:.300}")
            return
        err = checks.compare(got, self.con.execute("SELECT * FROM fact").df())
        if err:
            self.failures.append(f"read-back: {err}")

    def close(self) -> None:
        if self.con is not None:
            self.con.close()

    # -- metrics ------------------------------------------------------------

    def _ms(self, *ops: str) -> list[float]:
        return [ms for op, ms in self.samples if op in ops]

    def end_to_end(self) -> dict[str, float]:
        """The bounded metrics, then (underscored) the write-side figures
        that exist only for this workload and are reported per layer."""
        every = [ms for _, ms in self.samples]
        writes = self._ms(*WRITE_OPS)
        op_pct, op_tail = stats.tail(every)
        w_pct, w_tail = stats.tail(writes)
        return {
            "pass_s": stats.median(self.pass_s),
            "op_p50_ms": stats.quantile(every, 0.5),
            "op_tail_ms": op_tail,
            "read_p50_ms": stats.quantile(self._ms(*READ_OPS), 0.5),
            "_op_tail_pct": op_pct,
            "_op_samples": len(every),
            "_write_p50_ms": stats.quantile(writes, 0.5),
            "_write_tail_ms": w_tail,
            "_write_tail_pct": w_pct,
            "_write_samples": len(writes),
            "_write_amp": stats.median(self.write_amp),
            "_space_amp": stats.median(self.space_amp),
        }

    def per_layer(self) -> dict[str, float]:
        e2e = self.end_to_end()
        out = {f"warehouse.{op}.ms": stats.median(self._ms(op)) for op in ALL_OPS}
        for key, vals in self.layer.items():
            out[key] = stats.median(vals)
        for key in ("write_p50_ms", "write_tail_ms", "write_amp", "space_amp"):
            out[f"warehouse.{key}"] = e2e[f"_{key}"]
        out["trace.pass_s"] = stats.median(self.pass_s)
        out["trace.top_spans_s"] = stats.median(self.top_span_s)
        return out
