"""The repository benchmark: times the engine end to end, from outside,
on two workloads, and (with ``--trace 1``) per layer.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 1 --trace 0

Workloads (README.md has the why of each):

- ``etl_nightly``: ``pipeline.run`` twice on a fresh zone root per run,
  over two seeded CMS-shaped landing drops (bootstrap, then SCD1 merge);
- ``catalog``: a pass, in a seeded order, over five batch catalog queries
  and the four ``streaming_*`` drains, each built and then executed to a
  Parquet sink.

One process, one client, one operation at a time (a closed loop) on
``local[<cpus>]``. Between operations the benchmark clears Spark's cache
and the drain directories, so repetitions are independent. Every timed
operation is checked after its clock stops: catalog outputs against the
recorded row counts and digests in ``expected.json``, ETL warehouses
against the generator's facts. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it (``perfbench-record ...``) carries calibration, input sizes and
per-operation detail. Spark's own log goes to
``.perfbench_work/spark.log``. Everything is read and written under the
checkout root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import catalog_gen  # noqa: E402
import cms_gen  # noqa: E402
from digest import digest_parquet  # noqa: E402
from tracing import (  # noqa: E402
    Py4jCounter,
    SparkCounters,
    Tracer,
    median,
    streaming_listener,
)

#: Facilities per ETL drop (the CMS dataset has about 15,000).
ETL_FACILITIES = 1500
#: Catalog data: fixed scale and seed; the run seed orders the queries.
CATALOG_SF, CATALOG_DATA_SEED = 0.01, 42

STREAMING_QUERIES = (
    "streaming_join_dedup",
    "streaming_session_counts",
    "streaming_stateful_totals",
    "streaming_windowed_agg",
)

#: The catalog workload's untimed warm-up: dedup_clusters (outside the
#: timed set) pays the one-time cost, several seconds, that the MinHash
#: family otherwise charges to whichever of training_corpus and
#: dedup_near_pairs runs first; the stateful drain starts the streaming
#: machinery (state store, Python state workers) once per process. Three
#: short batch queries, also outside the timed set, finish the warm-up:
#: without them the first timed query of a pass ran at 1.35x its median
#: and the second at 1.14x, so the seeded order moved the whole pass.
WARM_UP_QUERIES = ("dedup_clusters", "streaming_stateful_totals", "pricing_summary",
                   "shipping_priority_q3", "window_running_sum")


#: The timed batch queries of the catalog workload: the heaviest at 4
#: cores with eager jobs during build (training_corpus) and in execution
#: (dedup_near_pairs), one with an eager percentile job during build
#: (window_rank_values), and two short ones whose time is mostly fixed
#: per-query cost.
BATCH_QUERIES = (
    "cms_clean_project",
    "dedup_near_pairs",
    "regional_revenue_q5",
    "training_corpus",
    "window_rank_values",
)


def _expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _geomean(values) -> float:
    values = [v for v in values if v > 0]
    return math.exp(sum(map(math.log, values)) / len(values)) if values else 0.0


class Bench:
    """One benchmark process: the session, the inputs, the samples."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed = workload, seed
        self.rng = random.Random(seed)
        self.spark = None
        self.session_start_s = 0.0
        self.failures: list[str] = []
        self.attempted = 0
        self.tracer: Tracer | None = None
        self.counters: SparkCounters | None = None
        self.py4j: Py4jCounter | None = None
        self.listener = None
        self.batches: list = []
        self.record: dict = {"workload": workload, "seed": seed, "trace": trace}

    # -- session -----------------------------------------------------------
    def start_session(self) -> None:
        from nursing_home_data_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(WORK, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            },
        )
        self.session_start_s = time.perf_counter() - t0

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    # -- inputs ------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the inputs (not part of set-up time)."""
        if self.workload == "etl_nightly":
            root = os.path.join(WORK, "etl", "landing")
            shutil.rmtree(root, ignore_errors=True)
            self.facts = cms_gen.generate(root, self.seed, ETL_FACILITIES)
            self.landing = root
            self.record["inputs"] = {
                "facilities_per_drop": ETL_FACILITIES,
                "landing_bytes": self.facts["landing_bytes"],
                "landing_rows": self.facts["landing_rows"],
            }
        else:
            exp = _expected()
            self.data_dir = os.path.join(WORK, "catalog", f"sf{CATALOG_SF}")
            rows = catalog_gen.generate(self.data_dir, CATALOG_SF, CATALOG_DATA_SEED)
            if rows != exp["table_rows"]:
                raise RuntimeError(f"catalog inputs differ from the recorded ones: {rows}")
            self.expected = exp["queries"]
            self.queries = BATCH_QUERIES + STREAMING_QUERIES
            self.record["inputs"] = {"sf": CATALOG_SF, "data_seed": CATALOG_DATA_SEED,
                                     "table_rows": rows, "queries": len(self.queries)}

    # -- operations --------------------------------------------------------
    def _fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}")
        print(f"perfbench: FAILED {what}: {why}", file=sys.stderr, flush=True)

    def etl_unit(self) -> dict:
        """One drop pair on a fresh zone root."""
        from nursing_home_data_etl_pipeline_spark import pipeline
        from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

        zroot = os.path.join(WORK, "etl", "zones")
        shutil.rmtree(zroot, ignore_errors=True)
        zones = ZoneLayout(zroot)
        unit: dict = {"ops": {}, "counters": []}
        for k, drop in enumerate(("drop1", "drop2")):
            name = ("bootstrap", "incremental")[k]
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self._span(f"pipeline.run.{name}", "pipeline"):
                    res = pipeline.run(self.spark, zones, landing_dir=f"{self.landing}/{drop}")
            except Exception as exc:  # keep going: the failure is counted
                self._fail(f"etl {name}", repr(exc))
                break
            wall = time.perf_counter() - t0
            unit["ops"][name] = wall
            if self.counters is not None:
                unit["counters"].append((self.counters.take(), wall))
            problem = self.check_etl(zones, res, self.facts["drops"][k])
            if problem:
                self._fail(f"etl {name}", problem)
        if self.tracer is not None and os.path.exists(f"{zroot}/run_log.jsonl"):
            unit["zone_bytes"] = _du(zroot)
            with open(os.path.join(zroot, "run_log.jsonl")) as f:
                log = [json.loads(line) for line in f]
            unit["runlog_rows"] = len(log)
            unit["stages_ok"] = sum(1 for r in log if r["status"] == "SUCCESS")
        shutil.rmtree(zroot, ignore_errors=True)
        return unit

    def check_etl(self, zones, res, want: dict) -> str | None:
        """Compare the warehouse after one drop with the generator's facts.
        Reads the dims with pyarrow, so the check runs no Spark job."""
        from nursing_home_data_etl_pipeline_spark.pipeline import DIM_TABLES

        if res.synced != 5 or res.archived != {"processed": 4, "error": 1}:
            return f"sync/archive result {res.synced} {res.archived}"
        if sorted(res.merged) != sorted(DIM_TABLES.values()):
            return f"merged dims {res.merged}"

        def dim(name, *cols):
            return pq.read_table(zones.warehouse(name), columns=list(cols) or None)

        fac = dim("dim_facility", "facility_number", "number_of_certified_beds")
        q1 = pc.cast(dim("dim_quality", "q1_measure_score").column(0), pa.float64())
        got = {
            "facilities": fac.num_rows,
            "distinct": len(pc.unique(fac.column("facility_number"))),
            "beds_total": pc.sum(pc.cast(pc.utf8_trim_whitespace(
                fac.column("number_of_certified_beds")), pa.int64())).as_py(),
            "facility_measures": len(q1),
            "q1_milli_total": pc.sum(pc.cast(pc.round(pc.multiply(q1, 1000)),
                                             pa.int64())).as_py(),
            "penalty_rows": dim("dim_penalties", "facility_number").num_rows,
            "surveys": dim("dim_surveys", "facility_number").num_rows,
            "staffing": dim("dim_staffing", "facility_number").num_rows,
            "rating": dim("dim_rating", "facility_number").num_rows,
        }
        n = want["facilities"]
        expect = {
            "facilities": n, "distinct": n, "beds_total": want["beds_total"],
            "facility_measures": want["facility_measures"],
            "q1_milli_total": want["q1_milli_total"],
            "penalty_rows": want["penalty_rows"], "surveys": n, "staffing": n,
            "rating": n,
        }
        bad = {k: (got[k], v) for k, v in expect.items() if got[k] != v}
        return f"warehouse (got, want): {bad}" if bad else None

    def catalog_unit(self, names=None, check: bool = True) -> dict:
        """One pass over the workload's queries in a seeded order."""
        from nursing_home_data_etl_pipeline_spark.plans import catalog
        from nursing_home_data_etl_pipeline_spark.plans.queries_streaming import (
            cleanup_drains,
        )

        entries = catalog.entries()
        order = list(names or self.queries)
        self.rng.shuffle(order)
        unit: dict = {"ops": {}, "build": {}, "exec": {}, "py4j": {}, "build_jobs": {},
                      "sink_jobs": {}, "cached_rdds": {}, "counters": []}
        out = os.path.join(WORK, "out")
        jsc = self.spark.sparkContext._jsc.sc()
        for name in order:
            self.attempted += 1
            layer = "streaming" if name.startswith("streaming_") else "plans"
            phase = ("drain", "readback") if layer == "streaming" else ("build", "exec")
            path = os.path.join(out, name)
            calls0 = self.py4j.calls if self.py4j else 0
            try:
                t0 = time.perf_counter()
                with self._span(f"{layer}.{phase[0]}.{name}", layer):
                    df = entries[name].spark(self.spark, self.data_dir)
                t1 = time.perf_counter()
                calls1 = self.py4j.calls if self.py4j else 0
                # reading the counters is tracing work: keep it off the clock
                build_counters = self._take()
                t1_sink = time.perf_counter()
                with self._span(f"{layer}.{phase[1]}.{name}", layer):
                    df.write.mode("overwrite").parquet(path)
                t2 = time.perf_counter()
            except Exception as exc:  # keep going: the failure is counted
                self._fail(name, repr(exc))
                self.spark.catalog.clearCache()
                cleanup_drains()
                continue
            unit["build"][name], unit["exec"][name] = t1 - t0, t2 - t1_sink
            unit["ops"][name] = unit["build"][name] + unit["exec"][name]
            if self.counters is not None:
                sink_counters = self.counters.take()
                unit["py4j"][name] = calls1 - calls0
                unit["build_jobs"][name] = build_counters["jobs"]
                unit["sink_jobs"][name] = sink_counters["jobs"]
                unit["counters"] += [(build_counters, t1 - t0), (sink_counters, t2 - t1_sink)]
                unit["cached_rdds"][name] = len(jsc.getRDDStorageInfo())
            self.spark.catalog.clearCache()
            cleanup_drains()
            if check:
                rows, dig = digest_parquet(path)
                want = self.expected[name]
                if (rows, dig) != (want["rows"], want["digest"]):
                    self._fail(name, f"output rows/digest {rows}/{dig}, "
                                     f"recorded {want['rows']}/{want['digest']}")
            shutil.rmtree(path, ignore_errors=True)
        return unit

    # -- tracing hooks (no-ops when untraced) ------------------------------
    def _span(self, name: str, layer: str):
        from contextlib import nullcontext

        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def _take(self) -> dict:
        return self.counters.take() if self.counters else {}

    def install_tracing(self) -> None:
        from nursing_home_data_etl_pipeline_spark import pipeline, transforms

        self.tracer = Tracer(f"{self.workload}-{self.seed}")
        tr = self.tracer
        tr.wrap(pipeline, "run_stage", "pipeline",
                lambda a, k: f"pipeline.stage.{k.get('step', a[3] if len(a) > 3 else '?')}")
        tr.wrap(pipeline, "merge_warehouse", "pipeline")
        for attr in ("sync_landing_to_source", "archive_source_files",
                     "require_staged", "replace_dir"):
            tr.wrap(pipeline, attr, "sources")
        tr.wrap(transforms, "write_parquet", "sources")
        for attr in ("universal_cleaning", "provider_transform", "quality_transform"):
            tr.wrap(pipeline, attr, "transforms")
        self.counters = SparkCounters(self.spark)
        self.py4j = Py4jCounter(self.spark)
        self.listener, self.batches = streaming_listener(self.spark)

    def remove_tracing(self) -> Tracer:
        """Put the engine back as it was; return the tracer."""
        tracer = self.tracer
        tracer.close()
        self.py4j.close()
        self.spark.streams.removeListener(self.listener)
        self.tracer = self.counters = self.py4j = None
        return tracer

    # -- workload loop -------------------------------------------------------
    def warm_up(self) -> None:
        """Untimed warm-up, part of set-up: catalog queries that start the
        engine paths every catalog query uses. The nightly ETL job runs in
        a fresh process every night, so its first pipeline run is timed as
        it is."""
        if self.workload == "catalog":
            self.catalog_unit(WARM_UP_QUERIES, check=False)

    def unit(self) -> dict:
        return self.etl_unit() if self.workload == "etl_nightly" else self.catalog_unit()

    def measure(self, seconds: float) -> list[dict]:
        """Workload runs, one after another, until ``seconds`` have passed
        (at least one). A later run in the process is warmer than the
        first, so ``run_seconds`` is kept below one run's length: every
        process then measures the same single run, whatever the host's
        speed."""
        units, t0 = [], time.perf_counter()
        while True:
            units.append(self.unit())
            if time.perf_counter() - t0 >= seconds:
                return units


def _unit_wall(u: dict) -> float:
    return sum(u["ops"].values())


def end_to_end(b: Bench, units: list[dict], setup_s: float) -> dict:
    per_op: dict[str, list[float]] = {}
    for u in units:
        for name, t in u["ops"].items():
            per_op.setdefault(name, []).append(t)
    n_ops = 2 if b.workload == "etl_nightly" else len(b.queries)
    complete = [u for u in units if len(u["ops"]) == n_ops]
    b.record["op_median_s"] = {k: statistics.median(v) for k, v in sorted(per_op.items())}
    b.record["units"] = len(units)
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (median(_unit_wall(u) for u in complete), "s"),
        "op_geomean_s": (_geomean(b.record["op_median_s"].values()), "s"),
    }


def per_layer(b: Bench, tr: Tracer, units: list[dict], untraced: list[dict]) -> dict:
    n = max(1, len(units))

    def per_unit(name_prefix: str) -> float:
        return sum(s.end - s.start for s in tr.spans
                   if s.name.startswith(name_prefix)) / n

    def calls(name_prefix: str) -> float:
        return sum(1 for s in tr.spans if s.name.startswith(name_prefix)) / n

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (b.session_start_s, "s")
    m["session.jvm_peak_rss_mb"] = (b.jvm_peak_rss_mb(), "MB")

    m["sources.sync_s"] = (per_unit("sources.sync_landing_to_source"), "s")
    m["sources.archive_s"] = (per_unit("sources.archive_source_files"), "s")
    m["sources.validate_s"] = (per_unit("sources.require_staged"), "s")
    m["sources.write_parquet_s"] = (per_unit("sources.write_parquet"), "s")
    m["sources.write_parquet_calls"] = (calls("sources.write_parquet"), "count")
    m["sources.replace_dir_s"] = (per_unit("sources.replace_dir"), "s")
    landing = sum(b.facts["landing_bytes"]) if b.workload == "etl_nightly" else 0
    zone = sum(u.get("zone_bytes", 0) for u in units) / n
    m["sources.bytes_written_per_input_byte"] = (zone / landing if landing else 0.0, "ratio")

    for t in ("universal_cleaning", "provider_transform", "quality_transform"):
        m[f"transforms.{t}_s"] = (per_unit(f"transforms.{t}"), "s")

    stages = ("sync", "universal_cleaning", "archive", "validate",
              "transform_parallel", "warehouse_merge")
    for st in stages:
        m[f"pipeline.stage_s.{st}"] = (per_unit(f"pipeline.stage.{st}"), "s")
    m["pipeline.merge_warehouse_s"] = (per_unit("pipeline.merge_warehouse"), "s")
    rows = sum(u.get("runlog_rows", 0) for u in units)
    ok = sum(u.get("stages_ok", 0) for u in units)
    m["pipeline.attempts_per_stage"] = (rows / ok if ok else 0.0, "ratio")
    run_spans = [s for s in tr.spans if s.name.startswith("pipeline.run.")]
    stage_sum = sum(s.end - s.start for s in tr.spans if s.name.startswith("pipeline.stage."))
    m["pipeline.untracked_s"] = (
        (sum(s.end - s.start for s in run_spans) - stage_sum) / n if run_spans else 0.0, "s")
    m["pipeline.bootstrap_run_s"] = (per_unit("pipeline.run.bootstrap"), "s")
    m["pipeline.incremental_run_s"] = (per_unit("pipeline.run.incremental"), "s")

    batch = [q for q in getattr(b, "queries", ()) if not q.startswith("streaming_")]
    stream = [q for q in getattr(b, "queries", ()) if q.startswith("streaming_")]

    def q_total(key: str, names) -> float:
        return sum(sum(v for q, v in u[key].items() if q in names) for u in units
                   if key in u) / n

    m["plans.build_s"] = (q_total("build", batch), "s")
    m["plans.exec_s"] = (q_total("exec", batch), "s")
    m["plans.build_py4j_calls"] = (q_total("py4j", batch), "count")
    m["plans.build_jobs"] = (q_total("build_jobs", batch), "count")
    m["plans.sink_jobs"] = (q_total("sink_jobs", batch), "count")
    m["plans.cached_rdds_left"] = (q_total("cached_rdds", batch), "count")

    m["streaming.drain_s"] = (q_total("build", stream), "s")
    m["streaming.readback_s"] = (q_total("exec", stream), "s")
    fed = b.batches
    m["streaming.batches"] = (len(fed) / n, "count")
    for key, names in (("add_batch_ms", ("addBatch",)),
                       ("query_planning_ms", ("queryPlanning",)),
                       ("commit_ms", ("walCommit", "commitOffsets")),
                       ("trigger_ms", ("triggerExecution",))):
        m[f"streaming.{key}"] = (
            sum(d.get(k, 0) for _, _, d in fed for k in names) / n, "ms")

    agg: dict[str, float] = {}
    skew, longest, wall = 1.0, -1.0, 0.0
    for u in units:
        for c, w in u["counters"]:
            wall += w
            for k, v in c.items():
                if k not in ("task_skew", "longest_stage_s"):
                    agg[k] = agg.get(k, 0) + v
            if c["longest_stage_s"] > longest:
                longest, skew = c["longest_stage_s"], c["task_skew"]
    units_of = {"jobs": "count", "stages": "count", "tasks": "count",
                "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
                "input_bytes": "B", "output_bytes": "B", "shuffle_read_bytes": "B",
                "shuffle_write_bytes": "B", "spill_bytes": "B"}
    for k, unit in units_of.items():
        m[f"spark.{k}"] = (agg.get(k, 0) / n, unit)
    m["spark.task_skew"] = (skew, "ratio")
    cores = b.spark.sparkContext.defaultParallelism
    m["spark.core_idle_share"] = (
        1 - agg.get("executor_run_s", 0) / (wall * cores) if wall else 0.0, "ratio")

    traced_run = median(_unit_wall(u) for u in units)
    m["trace.overhead_s"] = (traced_run - median(_unit_wall(u) for u in untraced), "s")

    b.record["self_time_by_layer_s"] = {k: v / n for k, v in tr.self_time_by_layer().items()}
    if units and "py4j" in units[0]:
        b.record["py4j_calls_by_query"] = [u["py4j"] for u in units]
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end
    (the engine's Python workers are its children)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_nightly", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nursing_home_data_etl_pipeline_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2

    # Keep every file the run makes under the checkout: temp files (the
    # streaming drains use tempfile), Spark scratch, the JVM's tmpdir.
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    # Spark writes its log (WARN and up) to the inherited stdout/stderr:
    # point both descriptors at a log file and keep the originals for the
    # benchmark's own output.
    out = os.fdopen(os.dup(1), "w", buffering=1)
    err = os.fdopen(os.dup(2), "w", buffering=1)
    log_fd = os.open(os.path.join(WORK, "spark.log"),
                     os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    sys.stdout, sys.stderr = out, err

    b = Bench(args.workload, args.seed, bool(args.trace))
    t_gen = time.perf_counter()
    b.prepare()
    gen_s = time.perf_counter() - t_gen

    b.start_session()
    b.warm_up()
    # Set-up runs from process start to the first timed operation, less
    # the generation of the benchmark's own inputs.
    setup_s = _process_age_s() - gen_s
    if b.failures:
        print(f"perfbench: warm-up failed: {b.failures}", file=sys.stderr)
        stop_spark(b.spark)
        return 1
    b.attempted = 0

    # bench.py's host calibration: loadavg and a fixed reference job whose
    # time moves only with the host, not with the engine.
    from bench import _calib_ref_sec, _loadavg_1m

    load_start, ref_start = _loadavg_1m(), _calib_ref_sec(b.spark)
    if args.trace:
        # One untraced run first (the ETL has no warm-up, and a catalog
        # query's first timed run is still colder than its second), so the
        # traced runs and the untraced runs they are compared with for the
        # tracing overhead are equally warm.
        b.unit()
        b.install_tracing()
        units = b.measure(args.seconds)
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        tracer = b.remove_tracing()
        untraced = b.measure(args.seconds)
        metrics = per_layer(b, tracer, units, untraced)
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    else:
        units = b.measure(args.seconds)
        metrics = end_to_end(b, units, setup_s)
    b.record["calib"] = {
        "cpu_count": os.cpu_count(),
        "spark_cores": b.spark.sparkContext.defaultParallelism,
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": _loadavg_1m(),
        "ref_sec_start": ref_start,
        "ref_sec_end": _calib_ref_sec(b.spark),
    }
    b.record.update(setup_s=setup_s, session_start_s=b.session_start_s,
                    input_generation_s=gen_s, failed_share=(
                        len(b.failures) / b.attempted if b.attempted else 0.0),
                    failures=b.failures)
    t_stop = time.perf_counter()
    stop_spark(b.spark)
    b.record["stop_s"] = time.perf_counter() - t_stop

    result = {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(WORK, f"record-{args.workload}-{args.seed}-{args.trace}.json"),
              "w") as f:
        json.dump({"record": b.record, "result": result}, f, indent=1)
    print("perfbench-record " + json.dumps(b.record, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))
    return 0 if not b.failures else 1


if __name__ == "__main__":
    raise SystemExit(main())
