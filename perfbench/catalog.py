"""The two query workloads: ``olap_sql`` and ``llm_curation``.

Each runs a fixed list of entries from the engine's declared query
catalog over seeded star-schema data. One operation is one entry: the
catalog callable builds the DataFrame (``build``), then the whole
physical plan is executed and its rows counted (``drain``). The drain
runs the DataFrame's own executed plan, so every output column is
computed; ``count()`` would let Catalyst prune every column it does not
need and skip most of the work.

Before the timed loop, one untimed-for-latency pass builds every entry
and collects its result; that pass is the warm-up (its Spark time is
part of ``setup_s``) and the output check (DuckDB oracle over the same
Parquet). The timed loop then repeats seed-permuted passes for the
requested number of seconds with a single closed-loop client.
"""

from __future__ import annotations

import random
import time

from nyc_taxi_data_warehouse_spark import sources
from nyc_taxi_data_warehouse_spark.plans import audit
from nyc_taxi_data_warehouse_spark.queries import QUERIES

from . import checks, stats

# Entries per workload. The full olap/llm catalogs (66 and 38 entries)
# take 40 s and 30 s per warm pass on 4 cores, on top of a cold pass
# that costs about twice that; one benchmark run has well under a
# minute. The lists keep every query module of each side represented
# (five olap, seven llm): ``w03``, ``d03`` and ``p01`` for their
# plan-build cost, ``q23`` and ``q01`` for the work a count()-style
# drain would prune, the rest as each module's cheapest typical entry.
WORKLOADS: dict[str, list[str]] = {
    "olap_sql": [
        "q01_pricing_summary",
        "q23_distinct_counts",
        "w01_sliding_event_rates",
        "a02_range_join_bursts",
        "q26_outer_join_accounting",
        "q32_unpivot_segment_stats",
    ],
    "llm_curation": [
        "t02_quality_scores",
        "d01_exact_dedup_stats",
        "e02_embedding_stats",
        "m02_media_decode_features",
        "k02_cluster_balanced_sample",
        "p01_curation_pipeline",
        "s01_inverted_index",
    ],
}
FAMILIES = [
    "relational", "windows_time", "temporal", "scalar_extra", "reshape",
    "text", "dedup", "similarity", "multimodal", "clustering", "pipeline", "search",
]
SCAN_TABLES = ["lineitem", "orders", "events", "documents", "embeddings"]


def family(name: str) -> str:
    return QUERIES[name].spark.__module__.rsplit(".", 1)[1]


def drain(df) -> int:
    """Execute ``df``'s own physical plan and count its rows. Every
    output column is computed (the plan is not re-optimised for a
    count), and the executed plan keeps its SQL metrics for
    ``plans.audit.executed_metrics``."""
    return df._jdf.queryExecution().executedPlan().execute().count()


class CatalogWorkload:
    def __init__(self, name: str, spark, sf_dir: str, seed: int, sf: float, tracer):
        self.names = WORKLOADS[name]
        self.spark, self.sf_dir, self.seed, self.sf = spark, sf_dir, seed, sf
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: list[tuple[str, float]] = []  # (entry, ms) in run order
        self.pass_s: list[float] = []
        self.top_span_s: list[float] = []
        # per pass: {metric name: summed value}
        self.layer_passes: list[dict[str, float]] = []

    def warm_and_check(self) -> float:
        """Build and collect every entry once, compare each result with
        its oracle. Returns the Spark seconds spent (build + collect);
        the DuckDB side and the comparison are not counted."""
        con = checks.duck_catalog(self.sf_dir)
        spark_s = 0.0
        try:
            for name in self.names:
                self.attempted += 1
                self.tracer.new_op()
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"queries.{family(name)}.check", entry=name):
                        got = QUERIES[name].spark(self.spark, self.sf_dir).toPandas()
                except Exception as e:  # a failing entry is a counted failure
                    spark_s += time.perf_counter() - t0
                    self.failures.append(f"{name}: check pass raised {e!r:.300}")
                    continue
                spark_s += time.perf_counter() - t0
                err = checks.check_entry(QUERIES[name], got, con, self.seed, self.sf)
                if err:
                    self.failures.append(f"{name}: {err}")
        finally:
            con.close()
        return spark_s

    def _op(self, name: str, layers: dict[str, float]) -> None:
        fam = family(name)
        tr = self.tracer
        tr.new_op()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(f"queries.{fam}", entry=name):
                with tr.span(f"queries.{fam}.build"):
                    tb = time.perf_counter()
                    df = QUERIES[name].spark(self.spark, self.sf_dir)
                    tb = time.perf_counter() - tb
                with tr.span(f"queries.{fam}.drain"):
                    td = time.perf_counter()
                    drain(df)
                    td = time.perf_counter() - td
                if tr.enabled:
                    with tr.span("plans.audit.executed_metrics"):
                        m = audit.executed_metrics(df)
        except Exception as e:  # a failing entry is a counted failure
            self.failures.append(f"{name}: raised {e!r:.300}")
            return
        self.samples.append((name, (time.perf_counter() - t0) * 1000.0))
        if tr.enabled:
            for key, val in (
                ("build_ms", tb * 1000.0),
                ("drain_ms", td * 1000.0),
                ("n_shuffles", m["n_shuffles"]),
                ("shuffle_bytes", m["shuffle_bytes_written"]),
                ("spill_bytes", m["spill_bytes"]),
            ):
                k = f"queries.{fam}.{key}"
                layers[k] = layers.get(k, 0.0) + val

    def run_pass(self) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        layers: dict[str, float] = {}
        t0 = time.perf_counter()
        for name in order:
            self._op(name, layers)
        t1 = time.perf_counter()
        self.pass_s.append(t1 - t0)
        self.layer_passes.append(layers)
        if self.tracer.enabled:
            self.top_span_s.append(self.tracer.top_level_seconds(t0, t1))

    def end_to_end(self) -> dict[str, float]:
        op_ms = [ms for _, ms in self.samples]
        pct, tail_ms = stats.tail(op_ms)
        return {
            "pass_s": stats.median(self.pass_s),
            "op_p50_ms": stats.quantile(op_ms, 0.5),
            "op_tail_ms": tail_ms,
            # every catalog operation is a read
            "read_p50_ms": stats.quantile(op_ms, 0.5),
            "_op_tail_pct": pct,
            "_op_samples": len(op_ms),
        }

    def scan_probe(self, repeats: int = 3) -> dict[str, float]:
        """Full drain of ``sources.load_table`` per table, median ms."""
        out = {}
        for t in SCAN_TABLES:
            times = []
            for _ in range(repeats):
                self.tracer.new_op()
                with self.tracer.span("sources.load_table", table=t):
                    t0 = time.perf_counter()
                    drain(sources.load_table(self.spark, self.sf_dir, t))
                    times.append((time.perf_counter() - t0) * 1000.0)
            out[f"sources.scan_ms.{t}"] = stats.median(times)
        return out

    def per_layer(self) -> dict[str, float]:
        out = self.scan_probe()
        for fam in FAMILIES:
            for key in ("build_ms", "drain_ms", "n_shuffles", "shuffle_bytes", "spill_bytes"):
                k = f"queries.{fam}.{key}"
                out[k] = stats.median([p.get(k, 0.0) for p in self.layer_passes])
        out["trace.pass_s"] = stats.median(self.pass_s)
        out["trace.top_spans_s"] = stats.median(self.top_span_s)
        return out
