"""The bench's printed-line contract: ONE JSON line the driver's
bounded tail capture always holds whole, with the regression
diagnostics degrading gracefully instead of vanishing (VERDICT r13
item 1 — the `flagged` block was silently popped in the one round
that needed it)."""

from __future__ import annotations

import json

import bench


def _mk(n_queries: int, n_flagged: int):
    timings = {f"q{i:03d}_some_query_name": 1.234 for i in range(n_queries)}
    flagged = {
        name: {"runs": [1.2, 3.4, 5.6], "spread": 4.4, "hist_median": 0.5}
        for name in list(timings)[:n_flagged]
    }
    headline = {
        "metric": "headline_suite_seconds",
        "value": 123.456,
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "extra_total": 456.789,
        "extra_count": 232,
        "steal_index": 0.709,
    }
    if flagged:
        headline["flagged"] = flagged
    return headline, timings, flagged


def test_short_line_keeps_full_flagged():
    headline, timings, flagged = _mk(5, 2)
    line = bench._printed_line(headline, timings, flagged)
    parsed = json.loads(line)
    assert len(line) <= 1900
    assert parsed["flagged"] == flagged


def test_oversized_flagged_degrades_to_ratios_not_nothing():
    # 31 headline queries, all flagged (the r13 steal scenario): the
    # full flagged dict blows the limit, but a compact form survives.
    headline, timings, flagged = _mk(31, 31)
    line = bench._printed_line(headline, timings, flagged)
    parsed = json.loads(line)
    assert len(line) <= 1900
    assert "flagged" in parsed, "diagnostic must survive the guard"
    assert "queries" in parsed, "per-query map must survive too"
    fl = parsed["flagged"]
    # Either the {name: ratio} form or the {count, max_ratio} form.
    if "count" in fl and "max_ratio" in fl and len(fl) == 2:
        assert fl["count"] == 31
        assert fl["max_ratio"] == round(1.234 / 0.5, 2)
    else:
        assert set(fl) == set(flagged)
        assert all(v == round(1.234 / 0.5, 2) for v in fl.values())


def test_tiny_limit_drops_queries_last():
    headline, timings, flagged = _mk(31, 31)
    line = bench._printed_line(headline, timings, flagged, limit=300)
    parsed = json.loads(line)
    assert len(line) <= 300
    assert "queries" not in parsed
    assert parsed["flagged"]["count"] == 31
    assert parsed["value"] == 123.456


def test_no_flagged_never_invents_one():
    headline, timings, flagged = _mk(31, 0)
    line = bench._printed_line(headline, timings, flagged)
    assert "flagged" not in json.loads(line)


def test_every_timed_name_is_a_registered_query():
    # an unregistered name is a KeyError in every run's `errors`
    from parlerproject_spark import queries as Q
    names = set(Q.queries())
    assert [n for n in bench.HEADLINE + bench.EXTRA if n not in names] == []
