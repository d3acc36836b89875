"""Determinism test for the benchmark's input generator.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import TABLES, generate, table_sizes  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_identical_files(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    rows = generate(a, seed=7, scale=0.002)
    generate(b, seed=7, scale=0.002)
    generate(c, seed=8, scale=0.002)
    first = _digests(a)
    assert sorted(first) == sorted(_digests(b))
    assert first == _digests(b)
    assert first != _digests(c)
    sizes = table_sizes(0.002)
    assert set(rows) == set(TABLES)
    assert all(rows[t] == sizes[t] for t in TABLES if t in sizes)
