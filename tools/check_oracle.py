"""Local replica of the driver's correctness gate.

Runs every queries()[name] on Spark and the matching oracle_sql()
on DuckDB at the given sf dir, then compares row count, schema
(as pandas dtype families), and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [name ...]
           [--prefix P] [--jobs N]

`name ...` checks only those queries; `--prefix P` checks every
query whose name starts with P (e.g. --prefix citation). `--jobs N`
(VERDICT r12 item 8) splits the selected names round-robin across N
subprocesses, each with its own Spark session on ~cores/N threads —
the full 324-query replay drops from ~18 min single-process to the
slowest shard's wall clock. Workers stay single-process (`--jobs 1`
implied), so per-query cache release and output formats are
identical to a plain run.
"""

from __future__ import annotations

import hashlib
import sys
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per catalog table
    (`catalog.TABLE_SCHEMAS`) over the parquet files in `sf_dir` —
    the names every `oracle_sql()` query reads."""
    from parlerproject_spark.catalog import TABLE_SCHEMAS

    con = duckdb.connect()
    for t in TABLE_SCHEMAS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the DRIVER's canonicalizer: sort on the RAW columns
    first, THEN stringify. The order matters — the driver's raw
    sort_values crashes on array/map cells (pandas can't factorize
    list objects), so stringify-before-sort would hide exactly the
    failure class the driver hits (round-11 `hashed_bow_docs`).
    Float columns are rounded before the sort so both engines order
    ties identically."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    out = {c: df[c].astype(str) for c in df.columns}
    return pd.DataFrame(out) if out else pd.DataFrame(index=df.index)


def value_hash(df: pd.DataFrame) -> str:
    n = norm_frame(df)
    payload = n.to_csv(index=False).encode()
    return hashlib.md5(payload).hexdigest()


def dtype_family(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "other"


def _parse_args(argv: list[str]):
    import argparse

    ap = argparse.ArgumentParser(
        description="Hash-check queries() against oracle_sql().")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*", help="check only these queries")
    ap.add_argument("--prefix", help="check queries whose name starts "
                    "with PREFIX")
    ap.add_argument("--jobs", "-j", type=int, default=1,
                    help="shard the selection over N worker processes")
    a = ap.parse_intermixed_args(argv)
    return a.sf_dir, set(a.names), a.prefix, a.jobs


def _run_sharded(sf_dir: str, names: list[str], jobs: int) -> int:
    """Round-robin the selected queries across `jobs` subprocess
    workers (own JVM each, ~cores/jobs threads, a host-sized driver
    heap unless SPARK_GRAFT_DRIVER_MEM is set) and aggregate their
    per-query lines + failure counts."""
    import os
    import re
    import subprocess

    from parlerproject_spark.session import local_cores

    per = max(2, local_cores() // jobs)
    # driver heap per shard: 80% of physical memory split over the
    # shards, at least 2g — four default 8g heaps overcommit a 16 GiB
    # host, and the kernel then kills a worker JVM mid-run
    phys_gib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                / 2 ** 30)
    mem = (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
           or f"{max(2, int(0.8 * phys_gib / jobs))}g")
    shards = [names[i::jobs] for i in range(jobs)]
    procs = []
    for shard in shards:
        if not shard:
            continue
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(per),
                   SPARK_GRAFT_DRIVER_MEM=mem)
        procs.append(subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), sf_dir, *shard],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, env=env))
    failures = 0
    for p in procs:
        out, _ = p.communicate()
        print(out, end="")
        m = re.search(r"(\d+) failures / \d+ queries", out)
        if m:
            failures += int(m.group(1))
        elif p.returncode != 0:
            failures += 1  # worker died before its summary line
            print(f"FAIL shard: worker exited {p.returncode} "
                  "without a summary line")
    print(f"\nTOTAL {failures} failures / {len(names)} queries "
          f"(jobs={jobs})")
    return 1 if failures else 0


def main() -> int:
    sf_dir, only, prefix, jobs = _parse_args(sys.argv[1:])

    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    selected = [n for n in qs
                if (not only or n in only)
                and (prefix is None or n.startswith(prefix))]
    if jobs > 1:
        return _run_sharded(sf_dir, selected, jobs)

    from parlerproject_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = oracle_views(sf_dir)

    failures = 0
    from parlerproject_spark.caching import release_all
    sel = set(selected)
    for name, fn in qs.items():
        if name not in sel:
            continue
        # query boundary = cache lifetime boundary (SCALE.md §7):
        # release the PREVIOUS query's persisted reduction tables so
        # the full-registry session never accumulates cached
        # relations (every continue-path above/below is covered by
        # releasing at iteration start + once after the loop)
        release_all(spark)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: oracle error")
            traceback.print_exc()
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        scols = {c: dtype_family(sdf[c]) for c in sorted(sdf.columns)}
        ocols = {c: dtype_family(odf[c]) for c in sorted(odf.columns)}
        if scols != ocols:
            problems.append(f"schema {scols} vs {ocols}")
        if not problems and value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
            sn, on = norm_frame(sdf), norm_frame(odf)
            diff = sn.merge(on, indicator=True, how="outer").query("_merge != 'both'")
            print(diff.head(10).to_string())
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows hash-match")
    release_all(spark)
    print(f"\n{failures} failures / {len(selected)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
