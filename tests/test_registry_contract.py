"""Registry-wide output-contract meta-test.

The driver's correctness gate canonicalizes each result frame by
`sort_values` on the RAW pandas columns before stringify-and-hash.
pandas cannot factorize array/map/struct cells, so any ORACLED query
whose output schema contains a complex type crashes the driver
(round-11 `hashed_bow_docs`: `TypeError: unhashable type: 'list'`)
even when the values are correct. This test turns that driver crash
class into a unit failure: every query with an `oracle_sql()` entry
must emit only atomic-typed columns. Rows-only queries (no oracle
entry) are exempt — the driver only row-counts them.

Building the DataFrame resolves the full analyzed schema without
executing a job, so the sweep over the whole registry stays cheap.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


def _complex_fields(schema: StructType) -> list[str]:
    return [f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]


def test_oracled_queries_emit_only_atomic_columns(spark):
    qs = entry.queries()
    oracles = entry.oracle_sql()
    offenders: dict[str, list[str]] = {}
    broken: dict[str, str] = {}
    for name, fn in qs.items():
        if name not in oracles:
            continue
        try:
            df = fn(spark, SF_DIR)
        except Exception as e:  # surface build breaks too
            broken[name] = repr(e)
            continue
        bad = _complex_fields(df.schema)
        if bad:
            offenders[name] = bad
    assert not broken, f"oracled queries failed to build: {broken}"
    assert not offenders, (
        "oracled queries emit complex-typed columns the driver's "
        f"canonicalizer cannot sort: {offenders} — project to scalar "
        "columns (the minhash_signatures c0..cN pattern) or "
        "concat_ws, and mirror in the oracle SQL")


def test_every_query_has_an_entry_in_driver_priority(spark):
    """Every registered query must be rotation-eligible: present in
    _DRIVER_PRIORITY exactly once, and vice versa."""
    from parlerproject_spark.queries import _DRIVER_PRIORITY

    qs = set(entry.queries())
    pri = list(_DRIVER_PRIORITY)
    assert len(pri) == len(set(pri)), "duplicate names in priority"
    assert set(pri) == qs, (
        f"priority/registry drift: only-in-priority={set(pri) - qs} "
        f"only-in-registry={qs - set(pri)}")


def test_norm_frame_mirrors_driver_crash_on_array_cells():
    """The local gate must reproduce the DRIVER's canonicalizer
    behavior: sort the RAW columns before stringifying, so a frame
    with array cells raises (pandas can't factorize lists) exactly
    as the driver did on round-11 `hashed_bow_docs`. If this test
    starts passing silently, the local gate has drifted back to
    stringify-first and will mask the crash class."""
    import sys

    import pandas as pd
    import pytest

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import norm_frame, value_hash

    bad = pd.DataFrame({"id": [2, 1], "v": [[1.0, 2.0], [3.0]]})
    with pytest.raises(TypeError):
        norm_frame(bad)

    # and the sane path still canonicalizes order-insensitively
    a = pd.DataFrame({"id": [2, 1], "v": [0.1234567, 7.0]})
    b = pd.DataFrame({"v": [7.0, 0.1234572], "id": [1, 2]})
    assert value_hash(a) == value_hash(b)


def test_slow_manifest_names_only_collected_tests():
    """Every node id in tests/slow_tests.txt must name a collected
    test. conftest marks the ids it finds and silently ignores the
    rest, so a deleted or renamed test would otherwise leave a dead
    entry (and a renamed heavy test would quietly join the default
    gate)."""
    import os
    import subprocess
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests", "--collect-only", "-q",
         "-m", "", "-p", "no:cacheprovider"],
        cwd=os.path.dirname(here), capture_output=True, text=True).stdout
    collected = {ln.strip() for ln in out.splitlines() if "::" in ln}
    with open(os.path.join(here, "slow_tests.txt")) as fh:
        listed = {ln.strip() for ln in fh
                  if ln.strip() and not ln.startswith("#")}
    assert collected, out
    assert not listed - collected, sorted(listed - collected)
