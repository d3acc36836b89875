"""The driver's query order, computed from its CORRECTNESS records.

`queries()` / `oracle_sql()` iterate stalest-first: each registered
query is keyed by the latest `CORRECTNESS_rNN.json` round in which it
passed (never-passed = round 0), so the driver's ~50-query sample
always lands on the oldest tier. These tests replay copies of the
committed records in a temp dir; none needs a Spark session.
"""

from __future__ import annotations

import json
import shutil

import parlerproject_spark.queries as Q

SAMPLE = 50


def _records(round_no: int) -> dict:
    path = Q._RECORDS_DIR / f"CORRECTNESS_r{round_no:02d}.json"
    return json.loads(path.read_text())


def _replay(tmp_path, rounds) -> tuple[str, ...]:
    for r in rounds:
        shutil.copy(Q._RECORDS_DIR / f"CORRECTNESS_r{r:02d}.json", tmp_path)
    return Q._ordered_names(tmp_path)


def test_replay_through_r12_heads_with_the_r13_sample(tmp_path):
    order = _replay(tmp_path, range(1, 13))
    # Queries registered after round 13 lead as never-checked, and
    # queries deregistered since drop out; neither was in the choice
    # the round-13 driver made.
    known = set().union(*(_records(r) for r in range(1, 14)))
    sampled = set(_records(13)) & set(Q._REGISTRY)
    head = [n for n in order if n in known][:len(sampled)]
    assert set(head) == sampled


def test_replay_through_r14_rotates_past_the_r14_sample(tmp_path):
    order = _replay(tmp_path, range(1, 15))
    assert not set(order[:SAMPLE]) & set(_records(14))


def test_only_passes_count_as_checked(tmp_path):
    reg = list(Q._REGISTRY)
    failed, passed, rows_only, rows_only_empty = reg[:4]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        failed: {"hash_match": None, "err": "TypeError: unhashable",
                 "spark_rows": None},
        passed: {"hash_match": True, "err": None, "spark_rows": 3},
        rows_only: {"hash_match": None, "err": "no_oracle",
                    "spark_rows": 7},
        rows_only_empty: {"hash_match": None, "err": "no_oracle",
                          "spark_rows": None},
    }))
    order = Q._ordered_names(tmp_path)
    assert order[:2] == (failed, rows_only_empty)
    assert order[-2:] == (passed, rows_only)


def test_unregistered_names_in_records_are_ignored(tmp_path):
    reg = list(Q._REGISTRY)
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({
        "no_longer_registered": {"hash_match": True, "spark_rows": 1},
        reg[0]: {"hash_match": True, "spark_rows": 1},
    }))
    assert Q._ordered_names(tmp_path) == (*reg[1:], reg[0])


def test_no_records_gives_registry_order(tmp_path):
    assert Q._ordered_names(tmp_path) == tuple(Q._REGISTRY)


def test_queries_and_oracles_follow_computed_order():
    order = Q._ordered_names()
    assert len(order) == len(set(order)) == len(Q._REGISTRY)
    assert set(order) == set(Q._REGISTRY)
    assert list(Q.queries()) == list(order)
    assert list(Q.oracle_sql()) == [
        n for n in order if Q._REGISTRY[n].oracle is not None]
