"""One measured run of one workload, in a fresh process (started by run.py).

Phases, in order:
1. generate the seeded tables and check every one is present;
2. set up a Spark session ``SETUPS`` times (start + the engine's flagship
   query on sf0.001 tables as warm-up), keeping the last. Only the first
   launches the JVM; the others restart the SparkContext in the running,
   JIT-warm JVM, so ``setup_s``, the median, is a warm restart. The cold
   first set-up is the per-layer ``session.cold_start_s`` and
   ``session.cold_warmup_s``;
3. with ``--trace 1``, install the layer wrappers and Spark accounting;
4. the timed window: whole passes over the workload's operations, one after
   another from this single client, until ``--seconds`` have passed;
5. the correctness gate, outside the window: every query result against its
   DuckDB oracle, every dashboard page against pandas on the working set.

Writes one JSON document to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.metadata
import json
import os
import platform
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import datagen
import stats
import workloads as wl

SETUPS = 3
WARMUP_SF = 0.001
WARMUP_QUERY = "abc_classification"


class _Collected:
    """Hands an already-collected result to ``parity.compare``."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method compare() calls
        return self._pdf


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def machine(spark, seed: int) -> dict:
    return {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "python": platform.python_version(),
        "pyspark": importlib.metadata.version("pyspark"),
        "duckdb": importlib.metadata.version("duckdb"),
        "seed": seed,
    }


class Run:
    def __init__(self, args, queries) -> None:
        self.args = args
        self.queries = queries
        self.tracer = None
        self.latencies_ms: list[float] = []
        self.op_log: list[tuple[str, float]] = []
        self.pass_walls: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        # Per-layer totals; the ones a workload never touches stay 0.
        self.layer: dict[str, float] = dict.fromkeys(
            ("queries.construct_s", "catalyst.plan_s", "sources.interaction_read_calls", "plans.abc_s",
             "plans.pending_s", "plans.history_s", "plans.history_cache_s"),
            0.0,
        )
        self.layer_samples: dict[str, list[float]] = {
            "operators.interaction_build_ms": [],
            "operators.interaction_collect_ms": [],
        }
        self.results: list[tuple] = []
        self.working_sets: dict[int, object] = {}

    # -- bookkeeping -------------------------------------------------------
    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def sample(self, key: str, value: float) -> None:
        self.layer_samples.setdefault(key, []).append(value)

    def fail(self, what: str, err: BaseException | str) -> None:
        msg = err if isinstance(err, str) else f"{type(err).__name__}: {err}"
        self.failures.append(f"{what}: {msg}"[:400])

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def charge(self, work: dict[str, float]) -> None:
        for k, v in work.items():
            self.add(k, v)

    def settle(self) -> None:
        """Charge Spark work launched outside ``collect`` (eager builds,
        driver collects and stream drains during construction)."""
        if self.tracer:
            self.charge(self.tracer.spark_work())

    def collect(self, df):
        """Execute ``df`` and return its rows as pandas; traced runs split out
        Catalyst planning and the Spark work behind the execution."""
        if not self.tracer:
            return df.toPandas()
        with self.span("plan") as rec:
            df._jdf.queryExecution().executedPlan()
        self.add("catalyst.plan_s", rec["t1"] - rec["t0"])
        w0 = time.time()
        with self.span("execute"):
            pdf = df.toPandas()
        self.charge(self.tracer.spark_work((w0, time.time())))
        return pdf

    # -- set-up --------------------------------------------------------------
    def setup(self, warm_dir: str):
        """Start a session and run the warm-up query on the small tables,
        ``SETUPS`` times; keep the last session."""
        from manipula_o_de_dataframes_spark.session import get_spark  # noqa: PLC0415

        starts, warms = [], []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            self.queries[WARMUP_QUERY](spark, warm_dir).toPandas()
            starts.append(t1 - t0)
            warms.append(time.perf_counter() - t1)
            if i < SETUPS - 1:
                spark.stop()
        totals = [a + b for a, b in zip(starts, warms)]
        return spark, {
            "setup_s": stats.median(totals),
            "session.start_s": stats.median(starts),
            "session.warmup_s": stats.median(warms),
            "session.cold_start_s": starts[0],
            "session.cold_warmup_s": warms[0],
            "samples_s": totals,
        }

    # -- operations ------------------------------------------------------------
    def run_query(self, spark, name: str, data_dir: str) -> None:
        self.attempted += 1
        t0, t1 = time.perf_counter(), None
        with self.span("op", op=name):
            try:
                with self.span("construct"):
                    df = self.queries[name](spark, data_dir)
                t1 = time.perf_counter()
                self.settle()
                self.results.append(("query", name, self.collect(df)))
            except Exception as e:  # an operation that raises is counted, not fatal
                self.fail(name, e)
        t2 = time.perf_counter()
        self.latencies_ms.append((t2 - t0) * 1000)
        self.op_log.append((name, (t2 - t0) * 1000))
        self.add("queries.construct_s", (t1 or t2) - t0)

    def run_process(self, spark, data_dir: str):
        """The dashboard's "process" click: the three reference plans, with
        the history cached as the interactive working set."""
        from manipula_o_de_dataframes_spark.plans.abc import abc_classification  # noqa: PLC0415
        from manipula_o_de_dataframes_spark.plans.history import product_client_history  # noqa: PLC0415
        from manipula_o_de_dataframes_spark.plans.pending import pending_by_week  # noqa: PLC0415

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span("op", op="process"):
                with self.span("plans.abc"):
                    abc = self.collect(abc_classification(spark, data_dir))
                t1 = time.perf_counter()
                with self.span("plans.pending"):
                    pending = self.collect(pending_by_week(spark, data_dir))
                t2 = time.perf_counter()
                with self.span("plans.history"):
                    hist = product_client_history(spark, data_dir).cache()
                t3 = time.perf_counter()
                with self.span("plans.history_cache"):
                    hist.count()
                    self.settle()
                t4 = time.perf_counter()
        except Exception as e:  # the pass's interactions then fail one by one
            self.fail("process", e)
            return None
        self.add("plans.abc_s", t1 - t0)
        self.add("plans.pending_s", t2 - t1)
        self.add("plans.history_s", t3 - t2)
        self.add("plans.history_cache_s", t4 - t3)
        self.sample("process_s", t4 - t0)
        self.op_log.append(("process", (t4 - t0) * 1000))
        self.results.append(("query", "abc_classification", abc))
        self.results.append(("query", "pending_by_week", pending))
        return hist

    def run_interaction(self, hist, spec: dict, pass_no: int) -> None:
        from manipula_o_de_dataframes_spark.operators.filters import dynamic  # noqa: PLC0415
        from manipula_o_de_dataframes_spark.operators.sorting import paginate  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        self.attempted += 1
        reads_before = self.tracer.counters["sources.calls"] if self.tracer else 0
        t0, t1 = time.perf_counter(), None
        with self.span("op", op="interaction"):
            try:
                with self.span("construct"):
                    filters = {k: (None if v == wl.ALL else v) for k, v in spec["filter"].items()}
                    order = [F.col(c).desc() if d else F.col(c).asc() for c, d in wl.sort_order(spec["sort"])]
                    df = paginate(dynamic(hist, filters), order, spec["page"], wl.PAGE_SIZE)
                t1 = time.perf_counter()
                self.results.append(("page", spec, self.collect(df), pass_no))
            except Exception as e:
                self.fail(f"interaction {spec}", e)
        t2 = time.perf_counter()
        t1 = t1 or t2
        self.latencies_ms.append((t2 - t0) * 1000)
        self.op_log.append(("interaction", (t2 - t0) * 1000))
        self.sample("operators.interaction_build_ms", (t1 - t0) * 1000)
        self.sample("operators.interaction_collect_ms", (t2 - t1) * 1000)
        if self.tracer:
            self.add("sources.interaction_read_calls", self.tracer.counters["sources.calls"] - reads_before)

    def run_pass(self, spark, ops: list, data_dir: str, pass_no: int) -> None:
        hist = None
        for op in ops:
            if op == "process":
                hist = self.run_process(spark, data_dir)
                if hist is not None:
                    self.working_sets[pass_no] = hist
            elif isinstance(op, dict):
                self.run_interaction(hist, op, pass_no)
            else:
                self.run_query(spark, op, data_dir)

    # -- correctness gate ------------------------------------------------------
    def gate(self, data_dir: str) -> None:
        from manipula_o_de_dataframes_spark.oracles import ORACLES  # noqa: PLC0415
        from manipula_o_de_dataframes_spark.parity import compare, run_oracle  # noqa: PLC0415

        names = {key for kind, key, *_ in self.results if kind == "query"}
        if self.working_sets:
            names.add("product_client_history")
        # DuckDB releases the GIL, so the oracles run side by side.
        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            futures = {name: pool.submit(run_oracle, ORACLES[name], data_dir) for name in sorted(names)}

        def check(name: str, pdf) -> None:
            try:
                issues = compare(_Collected(pdf), futures[name].result())
            except Exception as e:  # a broken oracle run fails the check
                issues = [f"{type(e).__name__}: {e}"]
            if issues:
                self.fail(f"{name} vs oracle", "; ".join(issues))

        working = {}
        for pass_no, hist in self.working_sets.items():
            working[pass_no] = hist.toPandas()
            hist.unpersist()
            check("product_client_history", working[pass_no])
        for kind, key, pdf, *pass_no in self.results:
            if kind == "query":
                check(key, pdf)
            elif not wl.page_matches(pdf, working[pass_no[0]], key):
                self.fail(f"page {key}", f"{len(pdf)} rows differ from the pandas page")

    # -- the run -----------------------------------------------------------------
    def main(self) -> dict:
        a = self.args
        phases = {}
        t = time.perf_counter()
        work = os.getcwd()
        data_dir = os.path.join(work, "data", "timed")
        warm_dir = os.path.join(work, "data", "warmup")
        datagen.write_tables(a.sf or wl.WORKLOADS[a.workload], a.seed, data_dir)
        datagen.write_tables(WARMUP_SF, a.seed, warm_dir)
        rows = datagen.check_tables(data_dir)
        datagen.check_tables(warm_dir)
        plan = wl.plan(a.workload, a.seed, list(self.queries))
        phases["inputs_s"] = time.perf_counter() - t

        t = time.perf_counter()
        spark, setup = self.setup(warm_dir)
        phases["setup_total_s"] = time.perf_counter() - t
        if a.trace:
            from tracing import Tracer  # noqa: PLC0415

            self.tracer = Tracer(os.environ["SPARK_GRAFT_SPOOL_DIR"])
            plan["traced_artifacts"] = self.tracer.install(spark, wl.SESSION_ARTIFACTS)

        t_window = time.perf_counter()
        while not self.pass_walls or time.perf_counter() - t_window < a.seconds:
            p0 = time.perf_counter()
            self.run_pass(spark, plan["ops"], data_dir, len(self.pass_walls))
            self.pass_walls.append(time.perf_counter() - p0)
        window_s = time.perf_counter() - t_window
        peak_rss = _jvm_peak_rss_mb(spark)
        if self.tracer:
            self.tracer.uninstall()
            self.finish_layers(setup)
            self.layer["jvm.peak_rss_mb"] = peak_rss
        t = time.perf_counter()
        self.gate(data_dir)
        phases["gate_s"] = time.perf_counter() - t
        identity = machine(spark, a.seed)
        t = time.perf_counter()
        spark.stop()
        phases["stop_s"] = time.perf_counter() - t
        setup["phases"] = phases
        return self.report(setup, window_s, peak_rss, plan, rows, identity)

    def finish_layers(self, setup: dict) -> None:
        c = self.tracer.counters
        busy = sum(self.pass_walls)
        layer = self.layer
        layer.update(self.tracer.stream_totals())
        layer.update({k: stats.median(v) for k, v in self.layer_samples.items() if k.startswith("operators.")})
        for key in ("session.start_s", "session.warmup_s", "session.cold_start_s", "session.cold_warmup_s"):
            layer[key] = setup[key]
        layer["queries.construct_share"] = layer["queries.construct_s"] / busy
        layer["sources.read_calls"] = c["sources.calls"]
        layer["sources.read_s"] = c["sources.s"]
        layer["spool.writes"] = c["spool.calls"]
        layer["spool.write_s"] = c["spool.s"]
        layer["spool.mb_written"] = c["spool.bytes"] / (1024 * 1024)
        layer["spool.reuse_ratio"] = c["artifact.reused"] / c["artifact.calls"] if c["artifact.calls"] else 0.0
        # Traced wall over the same wall without the tracer's own work, minus 1.
        layer["trace.overhead_share"] = self.tracer.bookkeeping_s / (busy - self.tracer.bookkeeping_s)

    def report(self, setup: dict, window_s: float, peak_rss: float, plan: dict, rows: dict, identity: dict) -> dict:
        a, lat = self.args, self.latencies_ms
        tail = stats.tail_level(len(lat))
        metrics = {
            "setup_s": (setup["setup_s"], "s", SETUPS),
            "wall_s": (stats.median(self.pass_walls), "s", len(self.pass_walls)),
            "op_p50_ms": (stats.percentile(lat, 50), "ms", len(lat)),
            "op_tail_ms": (stats.percentile(lat, tail), "ms", len(lat)),
        }
        return {
            "workload": a.workload,
            "seed": a.seed,
            "trace": a.trace,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "failed_share": len(self.failures) / self.attempted,
            "failures": self.failures,
            "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in metrics.items()},
            "workload_metrics": wl.named_metrics(a.workload, lat, self.layer_samples, self.pass_walls),
            "layers": self.layer,
            "details": {
                "op_tail_level": tail,
                "passes": len(self.pass_walls),
                "window_s": window_s,
                "peak_rss_mb": peak_rss,
                "interaction_split_ms": {
                    k: stats.median(v) for k, v in self.layer_samples.items() if k.startswith("operators.")
                },
                "setup_samples_s": setup["samples_s"],
                "phases_s": setup["phases"],
            },
            "machine": identity,
            "inputs": {"plan": plan, "row_counts": rows},
            "op_log_ms": self.op_log,
            "spans": self.tracer.spans if self.tracer else [],
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    from manipula_o_de_dataframes_spark import queries  # noqa: PLC0415

    try:
        result = Run(args, queries.QUERIES).main()
    except Exception:
        traceback.print_exc()
        return 1
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
