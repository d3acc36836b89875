"""Same-host benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 6 --trace 0

A run generates its inputs from ``--seed`` (perfbench/gen.py), sets the
engine up several times, each in a freshly launched JVM, checks every
query of the workload against its DuckDB oracle on those inputs
(untimed; this pass also warms the JVM), then repeats timed passes
over the workload's query list for ``--seconds``. Each query runs
builder -> noop write, closed loop, one driver on ``local[nproc]``;
``caching.release_all`` ends every pass.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics; the
traced passes record spans around the calls into ``session``,
``catalog``, ``queries`` and ``caching``, and read Spark's SQL and
stage metrics for the work the operators, functions and sources put
into the plans, and the planning time of each noop write from its own
QueryExecution. Spans and per-query values go to
``perfbench/.work/trace-<workload>-<seed>.json``.

Metric names and units come from BENCHMARK.json.

Human-readable lines come first; the last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 2  # setup_s is the median of this many cold set-ups in one run
MIN_PASSES = 2  # timed untraced passes per run, however long a pass takes


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _configure_environment(cores: int) -> dict[str, str]:
    """Environment and Spark settings that keep every file the run
    writes inside the checkout, and let Python workers import the
    engine whatever the working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _setup(conf: dict[str, str], data_dir: str) -> tuple[object, dict]:
    """get_spark, table loads and warm-up until a query can run."""
    from parlerproject_spark.catalog import TABLE_SCHEMAS, load_table
    from parlerproject_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    for name in TABLE_SCHEMAS:
        load_table(spark, name, data_dir)
    t2 = time.perf_counter()
    # the first job, which also starts a Python worker
    spark.range(1, numPartitions=1).mapInPandas(lambda it: it, "id long").collect()
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "session.start_s": t1 - t0,
                   "catalog.setup_load_s": t2 - t1, "session.warm_s": t3 - t2}


def _check(spark, fns, oracles, names, data_dir) -> dict[str, str]:
    """Hash-compare every query with its oracle; returns name -> reason
    for each query that raised or did not match."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import dtype_family, value_hash
    from parlerproject_spark.caching import release_all
    from parlerproject_spark.catalog import TABLE_SCHEMAS

    con = duckdb.connect()
    for t in TABLE_SCHEMAS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    failures = {}
    for name in names:
        try:
            got = fns[name](spark, data_dir).toPandas()
            want = con.execute(oracles[name]).df()
        except Exception as exc:  # a failing query is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            failures[name] = f"error: {type(exc).__name__}"
            continue
        if len(got) != len(want):
            failures[name] = f"rows {len(got)} vs {len(want)}"
        elif ({c: dtype_family(got[c]) for c in got.columns}
              != {c: dtype_family(want[c]) for c in want.columns}):
            failures[name] = "schema mismatch"
        elif value_hash(got) != value_hash(want):
            failures[name] = "value-hash mismatch"
    con.close()
    release_all(spark)
    return failures


class Runner:
    """Runs timed passes over one workload's queries."""

    def __init__(self, spark, fns, names, data_dir):
        self.spark, self.fns, self.names, self.data_dir = spark, fns, names, data_dir
        self.latency = defaultdict(list)  # query -> seconds per execution
        self.errors = 0
        self.executions = 0
        self.peak_rss_mb = 0.0

    def _sample_rss(self) -> None:
        """Peak RSS of the driver JVM and its Python workers, read at
        the end of a pass while the pass's workers are still alive."""
        from layers import tree_peak_rss_mb

        pid = self.spark.sparkContext._gateway.proc.pid
        self.peak_rss_mb = max(self.peak_rss_mb, tree_peak_rss_mb(pid))

    @staticmethod
    def _execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def plain_pass(self) -> float:
        from parlerproject_spark.caching import release_all

        t0 = time.perf_counter()
        for name in self.names:
            q0 = time.perf_counter()
            self.executions += 1
            try:
                self._execute(self.fns[name](self.spark, self.data_dir))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.errors += 1
            self.latency[name].append(time.perf_counter() - q0)
        self._sample_rss()
        release_all(self.spark)
        return time.perf_counter() - t0

    def traced_pass(self, tracer, listener, pass_no: int, records: list) -> dict:
        """One pass with spans and plan/stage metrics; returns the
        pass's summed layer values."""
        from parlerproject_spark import queries as Q
        from parlerproject_spark.caching import release_all
        from layers import plan_metrics, planning_s, stage_metrics

        sc = self.spark.sparkContext
        load_table = Q.load_table

        def traced_load_table(*args, **kwargs):
            with tracer.span("catalog.load_table"):
                return load_table(*args, **kwargs)

        layers: defaultdict = defaultdict(float)
        since = len(tracer.spans)
        Q.load_table = traced_load_table
        listener.take(sc)  # drop the untraced passes' executions
        try:
            with tracer.span("pass", traced=True) as pass_span:
                for i, name in enumerate(self.names):
                    group = f"perfbench-{pass_no}-{i}"
                    self.executions += 1
                    try:
                        with tracer.span("query", query=name):
                            sc.setJobGroup(f"{group}-build", name)
                            with tracer.span("queries.build"):
                                df = self.fns[name](self.spark, self.data_dir)
                            sc.setJobGroup(f"{group}-exec", name)
                            with tracer.span("operators.exec"):
                                self._execute(df)
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
                        self.errors += 1
                    sc.setJobGroup("perfbench-idle", "between queries")
                    with tracer.span("trace.collect"):
                        executions = listener.take(sc)
                        values = plan_metrics(executions)
                        if executions:  # the noop write is the last one
                            values["queries.plan_s"] = planning_s(executions[-1])
                        values.update(stage_metrics(
                            sc, [f"{group}-build", f"{group}-exec"]))
                    values["queries.build_jobs"] = values.pop(f"jobs.{group}-build", 0)
                    values["operators.jobs"] = values.pop(f"jobs.{group}-exec", 0)
                    records.append({"pass": pass_no, "query": name, **values})
                    for key, v in values.items():
                        layers[key] += v
                with tracer.span("caching.release_all"):
                    layers["caching.pinned_rdds"] = release_all(self.spark)
        finally:
            Q.load_table = load_table
        wall = pass_span["end"] - pass_span["start"]
        for span_name, key in (("catalog.load_table", "catalog.load_s"),
                               ("queries.build", "queries.build_s"),
                               ("operators.exec", "operators.exec_s"),
                               ("caching.release_all", "caching.release_s"),
                               ("trace.collect", "trace.collect_s")):
            layers[key] = tracer.total(span_name, since)
        layers["operators.core_util"] = layers["operators.task_busy_s"] / (
            wall * sc.defaultParallelism)
        layers["trace.pass_s"] = wall
        # queries.plan_s is part of operators.exec_s: the write plans itself
        layers["trace.span_sum_s"] = sum(layers[k] for k in (
            "queries.build_s", "operators.exec_s", "caching.release_s"))
        layers["trace.unaccounted_s"] = (
            wall - layers["trace.span_sum_s"] - layers["trace.collect_s"])
        return layers


def _shutdown(spark) -> None:
    """Stop Spark, wait for the JVM it launched to exit (the JVM exits
    when its stdin closes), and forget its gateway, so that the next
    get_spark launches a new JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _remove(data_dir: str, fixture: str) -> None:
    """Delete the run's inputs, and the archive fixture built from them
    with the member index the tar source keeps next to it."""
    shutil.rmtree(data_dir, ignore_errors=True)
    for path in (fixture, fixture + ".gidx"):
        if os.path.exists(path):
            os.remove(path)


def _tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and
    that percentile's rank."""
    s = sorted(samples)
    if len(s) <= 10:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def _parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "parlerproject_spark")):
        print(f"engine package parlerproject_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    from gen import generate
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    conf = _configure_environment(cores)
    sys.path.insert(0, ROOT)
    from parlerproject_spark import queries as Q
    from layers import Tracer, plan_listener

    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        digest = hashlib.md5(f.read()).hexdigest()[:8]
    data_dir = os.path.join(
        WORK, "data", f"{args.workload}-s{args.seed}-x{workload.scale}-{digest}")
    # pipeline_archive_metadata builds its tar fixture once per data
    # directory; each run builds its own
    fixture = os.path.join(ROOT, ".fixture_cache", "metadata_"
                           + hashlib.md5(data_dir.encode()).hexdigest()[:10] + ".tar")
    _remove(data_dir, fixture)
    phases = {"start": time.perf_counter()}
    generate(data_dir, args.seed, workload.scale)
    phases["generate"] = time.perf_counter()

    spark = None
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                _shutdown(spark)
                spark = None
            spark, timings = _setup(conf, data_dir)
            setups.append(timings)
        phases["setup"] = time.perf_counter()
        fns, oracles = Q.queries(), Q.oracle_sql()
        names = list(workload.queries)
        failures = _check(spark, fns, oracles, names, data_dir)
        for name, reason in failures.items():
            print(f"FAIL {name}: {reason}")
        phases["check"] = time.perf_counter()

        runner = Runner(spark, fns, names, data_dir)
        tracer, records, traced, plain = Tracer(), [], [], []
        listener = plan_listener(spark) if args.trace else None
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds or len(plain) < MIN_PASSES \
                or len(traced) < args.trace:
            if args.trace and len(traced) < len(plain):
                traced.append(runner.traced_pass(tracer, listener, len(traced), records))
            else:
                plain.append(runner.plain_pass())
        phases["measure"] = time.perf_counter()
    finally:
        if spark is not None:
            _shutdown(spark)
        _remove(data_dir, fixture)
    phases["stop"] = time.perf_counter()

    attempted = len(names) + runner.executions
    failed = len(failures) + runner.errors
    pass_s = statistics.median(plain)
    samples = [x for name in names for x in runner.latency[name]]
    tail, tail_pct = _tail(samples)
    medians = [statistics.median(runner.latency[n]) for n in names]
    e2e_units, layer_units = _metric_units()
    end_to_end = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "pass_s": pass_s,
        "geomean_query_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
        "peak_rss_mb": runner.peak_rss_mb,
    }
    print(f"workload {args.workload} seed {args.seed}: {len(names)} queries, "
          f"{len(plain)} untraced + {len(traced)} traced passes, {cores} cores")
    for key, value in end_to_end.items():
        print(f"{key} = {value:.4f} {e2e_units[key]}")
    # printed, not reported: a run has too few executions for a real tail
    print(f"query_tail_s = {tail:.4f} s (p{tail_pct:.0f} of {len(samples)} executions)")
    print("  set-ups: " + ", ".join(
        f"{s['setup_s']:.2f} s (start {s['session.start_s']:.2f}, loads "
        f"{s['catalog.setup_load_s']:.2f}, first job {s['session.warm_s']:.2f})"
        for s in setups))
    for name, m in zip(names, medians):
        print(f"  {name}: median {m:.3f} s over {len(runner.latency[name])}")
    print(f"failed_frac = {failed / attempted:.4f} ({failed} of {attempted})")
    marks = list(phases.items())
    print("phase seconds: " + ", ".join(
        f"{name} {t - prev:.1f}" for (_, prev), (name, t) in zip(marks, marks[1:])))

    if args.trace:
        layers = {key: statistics.median(p.get(key, 0.0) for p in traced)
                  for key in sorted(set().union(*traced))}
        for key in ("session.start_s", "session.warm_s"):
            layers[key] = statistics.median(s[key] for s in setups)
        layers["trace.overhead_s"] = layers["trace.pass_s"] - pass_s
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in layer_units.items()}
        for key, m in metrics.items():
            print(f"{key} = {m['value']:.6g} {m['unit']}")
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "setups": setups, "untraced_pass_s": plain,
                       "spans": tracer.spans, "queries": records}, f)
    else:
        metrics = {k: {"value": end_to_end[k], "unit": u}
                   for k, u in e2e_units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
