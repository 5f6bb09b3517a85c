"""Benchmark of the warehouse pipeline and the query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md):
  etl_reference  full FitnessWarehousePipeline run on seeded, reference-sized
                 inputs written by perfbench/gen.py
  query_mix      the QUERIES below, each built by its QuerySpec.builder and
                 executed, in a seed-permuted order, on the seed-42 sf0.01
                 tables copied under perfbench/data

One client, closed loop, on local[nproc]. The timed loop runs whole passes
(one pipeline run; every query once) until --seconds have elapsed, at
least one pipeline run or MIN_PASSES query passes. run_s is the median
pipeline run, or the sum of the queries' median latencies. Outputs are
checked after the loop. The last stdout line is the result object; the
line before it describes host, inputs and detail.

--trace 0 reports the end-to-end metrics with Spark's event log off.
--trace 1 turns the event log on, adds phase spans and sub-spans inside
transform and reports the per-layer metrics. Its trace_overhead compares
run_s with that of an untraced run of the same seed and --seconds, made
first in a child process.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import pyspark  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

import gen  # noqa: E402
from fitness_nutrition_data_pipeline_spark import pipeline as pipeline_mod  # noqa: E402
from fitness_nutrition_data_pipeline_spark.config import PipelineConfig  # noqa: E402
from fitness_nutrition_data_pipeline_spark.queries import all_specs  # noqa: E402
from fitness_nutrition_data_pipeline_spark.session import get_spark  # noqa: E402
from spans import COUNTERS, Tracer, fold_event_log, read_events  # noqa: E402
from tools import verify_queries as V  # noqa: E402
QUERY_SF_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("etl_reference", "query_mix")

# The benchmark's own copy of the query list, one query per kind of work
# the registry does: a scan with aggregation, a multi-way join with
# shuffles, MinHash/LSH bucketing, and the iterative k-core peel (Python
# workers via mapInPandas, jobs launched while the plan is built). Each
# costs ~1-2 s warm on 4 cores at sf0.01 and several times that cold, so a
# run holds one untimed warm-up pass and at least MIN_PASSES timed passes.
QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q5_local_volume",
    "minhash_lsh_buckets",
    "kcore_fixpoint_audit",
]
MIN_PASSES = 3

ETL_PHASES = ("extract", "transform", "load", "validate")
QUERY_PHASES = ("query_build", "query_exec")
# sub-spans inside transform: the names pipeline.py imports
TRANSFORM_CALLS = {
    "resolve_users": "operators.resolution.declare_s",
    "build_dimensions": "plans.dimensions.declare_s",
    "build_bridges": "plans.bridges.declare_s",
    "build_facts": "plans.facts.declare_s",
}
END_TO_END = {"setup_s": "s", "run_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {
        "sources.extract_s": "s",
        "pipeline.transform_s": "s",
        "pipeline.transform_self_s": "s",
        **{m: "s" for m in TRANSFORM_CALLS.values()},
        "load.write_s": "s",
        "load.files_written": "count",
        "load.bytes_written": "bytes",
        "load.rows_written": "count",
        "validation.validate_s": "s",
        "validation.checks_run": "count",
        "validation.checks_failed": "count",
        "queries.build_s": "s",
        "queries.exec_s": "s",
        "queries.op_p50_s": "s",
    }
    for q in QUERIES:
        units[f"queries.{q}.exec_s"] = "s"
        units[f"queries.{q}.build_jobs"] = "count"
    counter_units = {"jobs": "count", "tasks": "count", "driver_only_s": "s",
                     "core_util": "ratio"}
    for phase in ETL_PHASES + QUERY_PHASES:
        for c in COUNTERS:
            units[f"spark.{phase}.{c}"] = counter_units.get(
                c, "ms" if c.endswith("_ms") else "bytes")
    units["process.peak_rss_mb"] = "MB"
    units["trace_overhead"] = "ratio"
    return units


# -- host and process --------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child."""
    kb = _status_kb(os.getpid(), "VmHWM")
    for child in _children(os.getpid()):
        try:
            with open(f"/proc/{child}/comm") as f:
                if f.read().strip() == "java":
                    kb += _status_kb(child, "VmHWM")
        except OSError:
            continue
    return kb / 1024.0


def host_descriptor(spark, cpus: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": cpus,
        "mem_total_mb": round(mem_kb / 1024),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin, on which it exits,
    and wait for it."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def configure_env(work: str, cpus: int) -> None:
    """Keep every file Spark, its workers and the JVM write under ``work``;
    everything else stays at the program's defaults."""
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "scratch", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_SCRATCH"] = dirs["scratch"]
    os.environ["TMPDIR"] = tempfile.tempdir = dirs["tmp"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']}"


# -- workloads ---------------------------------------------------------------


def run_etl(spark, args, work: str, tracer, traced: bool) -> dict:
    inputs = gen.generate(os.path.join(work, "inputs"), args.seed)
    data = inputs["data_dir"]
    originals = {name: getattr(pipeline_mod, name) for name in TRANSFORM_CALLS}
    if traced:
        for name, fn in originals.items():
            setattr(pipeline_mod, name, tracer.wrap(name, "transform", fn))
    setup_s = time.time() - T0

    times, problems, attempted, layers = [], [], 0, {}
    loop_start = time.time()
    try:
        while attempted == 0 or time.time() - loop_start < args.seconds:
            cfg = PipelineConfig(
                data_dir=data,
                fitbit_dir=os.path.join(data, "fitbit"),
                warehouse_dir=os.path.join(work, f"warehouse{attempted}"),
                output_dir=os.path.join(work, f"output{attempted}"),
            )
            attempted += 1
            p = pipeline_mod.FitnessWarehousePipeline(spark, cfg)
            validated = []
            if traced:
                trace_phases(p, tracer, validated)
            t = time.time()
            try:
                report = p.run()
                times.append(time.time() - t)
            except Exception:  # noqa: BLE001 — a failed run is a failed op
                problems.append(f"run {attempted}: {traceback.format_exc()}")
                continue
            finally:
                spark.catalog.clearCache()
            bad = gen.counts_mismatch(inputs["expected"], report["table_counts"])
            bad += [f"validation issue: {i}" for i in report["validation"]["issues"]]
            if bad:
                problems.append(f"run {attempted}: " + "; ".join(bad))
            if traced:
                layers.update(
                    warehouse_layout(cfg.warehouse_dir),
                    **{"validation.checks_run": validated[0].checks_run,
                       "validation.checks_failed": len(validated[0].issues)
                       + len(validated[0].warnings)},
                )
    finally:
        for name, fn in originals.items():
            setattr(pipeline_mod, name, fn)

    return {
        "setup_s": setup_s,
        "run_s": statistics.median(times) if times else None,
        "passes": len(times),
        "op_times": times,
        "attempted": attempted,
        "problems": problems,
        "layers": layers,
        "inputs": {"seed": args.seed, "files": inputs["files"], "sizes": inputs["sizes"],
                   "expected": inputs["expected"]},
    }


def trace_phases(p, tracer, validated: list) -> None:
    """Rebind the phase methods ``p.run()`` calls so that each call is a
    span; validation results are appended to ``validated``."""
    for phase in ETL_PHASES:
        setattr(p, phase, tracer.wrap(phase, None, getattr(p, phase)))
    validate = p.validate

    def keep_results():
        validated.append(validate())
        return validated[-1]
    p.validate = keep_results


def warehouse_layout(warehouse_dir: str) -> dict[str, float]:
    """Parquet files, bytes and rows that load wrote."""
    files = nbytes = rows = 0
    for root, _, names in os.walk(warehouse_dir):
        for n in names:
            if n.endswith(".parquet"):
                path = os.path.join(root, n)
                files += 1
                nbytes += os.path.getsize(path)
                rows += pq.ParquetFile(path).metadata.num_rows
    return {"load.files_written": files, "load.bytes_written": nbytes,
            "load.rows_written": rows}


def query_inputs() -> dict:
    tables = {}
    for n in sorted(os.listdir(QUERY_SF_DIR)):
        path = os.path.join(QUERY_SF_DIR, n)
        tables[n.removesuffix(".parquet")] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return {"sf_dir": os.path.relpath(QUERY_SF_DIR, ROOT), "tables": tables}


def oracle_mismatches(results: dict[str, tuple], oracle: dict[str, tuple]) -> dict[str, str]:
    """Queries whose (columns, rows) differ from their oracle's, compared
    as tools/verify_queries.py compares: sorted column names, then rows
    normalized and sorted."""
    wrong = {}
    for name, got in results.items():
        sc, sr = V.norm_rows(*got)
        oc, orows = V.norm_rows(*oracle[name])
        if sc != oc:
            wrong[name] = f"columns {sc} differ from the oracle's {oc}"
        elif sr != orows:
            wrong[name] = (f"rows differ from the oracle's "
                           f"({len(sr)} rows vs {len(orows)})")
    return wrong


def run_queries(spark, args, work: str, tracer, traced: bool) -> dict:
    specs = all_specs()
    con = duckdb.connect()
    for t in V.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{QUERY_SF_DIR}/{t}.parquet'")
    # one untimed pass: the first run of a query in a process pays JVM and
    # code-generation warm-up several times its warm cost
    for name in QUERIES:
        specs[name].builder(spark, QUERY_SF_DIR).toPandas()
    rng = random.Random(args.seed)
    setup_s = time.time() - T0

    pass_times, op_times, per_query = [], [], {q: [] for q in QUERIES}
    fetched: dict[str, tuple] = {}
    problems, attempted, raised = [], 0, []
    loop_start = time.time()
    while len(pass_times) < MIN_PASSES or time.time() - loop_start < args.seconds:
        order = QUERIES[:]
        rng.shuffle(order)
        pass_start = time.time()
        for name in order:
            attempted += 1
            t = time.time()
            try:
                with tracer.span("query_build", tag=name):
                    df = specs[name].builder(spark, QUERY_SF_DIR)
                with tracer.span("query_exec", tag=name):
                    # V.fetch_spark without its row normalization, which
                    # belongs to the check and runs after the loop
                    date_cols = {f.name for f in df.schema.fields
                                 if isinstance(f.dataType, T.DateType)}
                    pdf = df.toPandas()
            except Exception:  # noqa: BLE001 — a failed query is a failed op
                raised.append(name)
                problems.append(f"{name}: {traceback.format_exc()}")
                continue
            dt = time.time() - t
            op_times.append(dt)
            per_query[name].append(dt)
            fetched.setdefault(name, (pdf, date_cols))
        pass_times.append(time.time() - pass_start)

    # output check, once per query, outside the timed loop
    results = {name: V.pandas_rows(*f) for name, f in fetched.items()}
    oracle, wrong = {}, {}
    for name in results:
        cur = con.cursor()
        try:
            oracle[name] = V.fetch_oracle(cur.sql(specs[name].oracle))
        except duckdb.Error as e:
            wrong[name] = f"oracle failed: {e}"
        finally:
            cur.close()
    wrong.update(oracle_mismatches({n: results[n] for n in oracle}, oracle))
    problems += [f"{name}: {why}" for name, why in wrong.items()]
    failed = len(raised) + sum(len(per_query[q]) for q in wrong)
    # one pass of the mix with each query at its median latency: a burst of
    # host load during one pass moves a median less than a pass total
    query_p50 = {q: statistics.median(v) for q, v in per_query.items() if v}
    return {
        "setup_s": setup_s,
        "run_s": sum(query_p50.values()) if query_p50 else None,
        "query_p50_s": query_p50,
        "passes": len(pass_times),
        "op_times": op_times,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "layers": {"queries.op_p50_s": statistics.median(op_times)} if op_times else {},
        "inputs": {"seed": args.seed, **query_inputs()},
    }


# -- entry point -------------------------------------------------------------


def untraced_run_s(args) -> float:
    """run_s of an untraced run of the same seed and --seconds, in a child
    process that ends before the traced session starts."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError("untraced reference run failed")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]["run_s"]["value"]


def percentile_with_ten_beyond(values: list[float]) -> tuple[float | None, float | None]:
    """(p, value) for the highest percentile with at least ten samples
    above it, or (None, None) when there are too few samples."""
    n = len(values)
    if n < 11:
        return None, None
    k = n - 10  # 1-based rank with ten samples beyond it
    return round(100.0 * k / n, 1), sorted(values)[k - 1]


def main(argv: list[str] | None = None) -> int:
    global T0
    ap = argparse.ArgumentParser(description="perfbench: see perfbench/README.md")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    traced = bool(args.trace)
    reference_run_s = None
    if traced:
        reference_run_s = untraced_run_s(args)
        T0 = time.time()

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work, cpus)
    extra_conf = {}
    log_dir = os.path.join(work, "eventlog")
    if traced:
        os.makedirs(log_dir)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    tracer = Tracer()
    spark = None
    try:
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)
        runner = run_etl if args.workload == "etl_reference" else run_queries
        out = runner(spark, args, work, tracer, traced)
        rss = peak_rss_mb()
        host = host_descriptor(spark, cpus)
        stop_spark(spark)
        spark = None

        failed = out.get("failed", len(out["problems"]))
        for p in out["problems"]:
            sys.stderr.write(p.rstrip() + "\n")
        if out["run_s"] is None:
            return 1
        metrics = {"setup_s": out["setup_s"], "run_s": out["run_s"]}
        tail_p, tail_v = percentile_with_ten_beyond(out["op_times"])
        detail = {
            "workload": args.workload,
            "host": host,
            "inputs": out["inputs"],
            "samples": {"passes": out["passes"], "ops": len(out["op_times"])},
            "op_p50_s": statistics.median(out["op_times"]),
            "query_p50_s": out.get("query_p50_s"),
            "peak_rss_mb": rss,
            "tail": {"percentile": tail_p, "value_s": tail_v},
        }
        if traced:
            units = per_layer_units()
            layers = dict.fromkeys(units, 0.0)
            layers.update(out["layers"])
            layers["process.peak_rss_mb"] = rss
            layers["sources.extract_s"] = tracer.total("extract")
            layers["pipeline.transform_s"] = tracer.total("transform")
            layers["pipeline.transform_self_s"] = tracer.self_time("transform")
            for name, metric in TRANSFORM_CALLS.items():
                layers[metric] = tracer.total(name)
            layers["load.write_s"] = tracer.total("load")
            layers["validation.validate_s"] = tracer.total("validate")
            layers["queries.build_s"] = tracer.total("query_build")
            layers["queries.exec_s"] = tracer.total("query_exec")
            for q in QUERIES:
                execs = [s.end - s.start for s in tracer.spans
                         if s.name == "query_exec" and s.tag == q]
                if execs:
                    layers[f"queries.{q}.exec_s"] = statistics.median(execs)
            phases = [s for s in tracer.spans if s.name in ETL_PHASES + QUERY_PHASES]
            events = read_events(log_dir)
            for phase, counters in fold_event_log(events, phases, cpus).items():
                for c, v in counters.items():
                    layers[f"spark.{phase}.{c}"] = v
            builds = [s for s in phases if s.name == "query_build"]
            for key, counters in fold_event_log(events, builds, cpus,
                                                key=lambda s: s.tag).items():
                layers[f"queries.{key}.build_jobs"] = counters["jobs"]
            layers["trace_overhead"] = metrics["run_s"] / reference_run_s - 1.0
            detail["untraced_run_s"] = reference_run_s
            result_metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        else:
            result_metrics = {k: {"value": v, "unit": END_TO_END[k]}
                              for k, v in metrics.items()}
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": out["attempted"],
            "failed": failed,
            "metrics": result_metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
