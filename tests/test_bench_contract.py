"""bench.py contract gates: the headline list and the baseline table
must stay in lockstep (r8 found 3 ids baselined but absent from
HEADLINE — they silently skipped the bench), and every headline id must
be a real registry query."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

from streamline_hybrid_engine_spark import all_queries


def test_headline_and_baseline_are_set_equal():
    hs, bs = set(bench.HEADLINE), set(bench.BASELINE_SEC)
    assert hs - bs == set(), f"headline rows missing a baseline: {sorted(hs - bs)}"
    assert bs - hs == set(), f"baselined ids not benched: {sorted(bs - hs)}"
    assert len(bench.HEADLINE) == len(hs), "duplicate headline entries"


def test_headline_ids_exist_in_registry():
    qs = all_queries()
    missing = sorted(n for n in bench.HEADLINE if n not in qs)
    assert not missing, f"headline names not in registry: {missing}"


def test_baselines_are_positive_numbers():
    bad = {k: v for k, v in bench.BASELINE_SEC.items()
           if not isinstance(v, (int, float)) or v <= 0}
    assert not bad, f"non-positive baselines: {bad}"
