"""Time one or more registered queries in isolation (noop sink) and
optionally dump their formatted plans.

Usage: python tools/profile_query.py name [name ...]
           [--runs N] [--sf DIR] [--plan-dir DIR] [--suffix S]

Times each query with the same methodology as bench.py (noop sink,
median of N runs, warm JVM) and, with --plan-dir, writes
<dir>/<name>_<suffix>.txt holding `.explain("formatted")`.

Each query's JSON record also carries `jobs`: the Spark jobs its first
run launched, counted through a job group. That is every
driver-synchronized action (collects inside iterative trainers, eager
checkpoints, AQE stage-jobs of the noop write), i.e. the number of
sequential driver round trips. Unlike wall time it is deterministic
and immune to CPU steal on a shared host.

`scans` counts the parquet scans and `python_nodes` the Python nodes
(UDF evaluation, pandas maps and Python data-source scans) of the
executed plan, each once.

After a query's runs the tool calls `caching.release_all`, so the next
query plans over its own sources, never over a relation an earlier
query persisted. Runs of one query share its cache, as in bench.py.

`python_cpu_s` is the CPU time (utime+stime from /proc/<pid>/stat) that
the JVM's live descendant processes, i.e. the PySpark daemon and its
Python workers, spent over that same first run. It counts Python-worker
CPU, including each task's fixed set-up; it is not a share of the
query's wall time, since up to all cores run workers at once. A worker
that exits during the run takes its CPU with it (Linux only).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parlerproject_spark import queries as Q  # noqa: E402
from parlerproject_spark.caching import release_all  # noqa: E402
from parlerproject_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from parlerproject_spark.plans import inspect  # noqa: E402
from parlerproject_spark.session import get_spark  # noqa: E402


def _descendant_ticks(root: int) -> dict[int, int]:
    """utime+stime clock ticks of each live descendant process of `root`."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # Fields after "(comm)": state, ppid, ..., utime (14), stime (15).
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = int(fields[11]) + int(fields[12])
    out, stack = {}, list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out[pid] = ticks[pid]
        stack.extend(children.get(pid, []))
    return out


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(
        description="Time registered queries in isolation (noop sink).")
    ap.add_argument("names", nargs="*", help="registered query names")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", dest="sf_dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--plan-dir")
    ap.add_argument("--suffix", default="before")
    a = ap.parse_intermixed_args()
    names, runs, sf_dir = a.names, a.runs, a.sf_dir
    plan_dir, suffix = a.plan_dir, a.suffix

    spark = get_spark("profile")
    registry = Q.queries()
    # Warm JVM + Arrow daemons, as bench.py does.
    Q.flagship(spark, sf_dir).count()
    spark.range(32).mapInPandas(lambda it: it, "id long").count()
    release_all(spark)

    def timed_run(fn) -> float:
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - start, 3)

    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    out: dict[str, dict] = {}
    for name in names:
        fn = registry[name]
        group = f"profile:{name}"
        sc.setJobGroup(group, name)
        before = _descendant_ticks(jvm_pid)
        per = [timed_run(fn)]
        after = _descendant_ticks(jvm_pid)
        sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        py_cpu = sum(t - before.get(pid, 0) for pid, t in after.items())
        per += [timed_run(fn) for _ in range(runs - 1)]
        df = fn(spark, sf_dir)
        executed = inspect.executed_plan(df)
        n_ex = inspect.exchange_count(executed)
        n_scan = len(re.findall(r"Scan parquet", executed))
        n_py = len(re.findall(
            r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|"
            r"FlatMapGroupsInPandas|BatchScan [^\n]*\(Python\)", executed))
        out[name] = {"runs": per, "median": sorted(per)[len(per) // 2],
                     "jobs": jobs, "exchanges": n_ex, "scans": n_scan,
                     "python_nodes": n_py,
                     "python_cpu_s": round(py_cpu / os.sysconf("SC_CLK_TCK"),
                                           2)}
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"),
                      "w") as fh:
                fh.write(inspect.formatted_plan(df))
        release_all(spark)
        print(json.dumps({name: out[name]}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
