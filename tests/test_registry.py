"""Registry contract invariants — what the driver relies on."""

from __future__ import annotations

import os
import subprocess
import sys

from streamline_hybrid_engine_spark.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_loads_and_is_nonempty():
    qs = all_queries()
    assert len(qs) >= 70


def test_query_names_are_wellformed():
    for name in all_queries():
        assert name.replace("_", "").isalnum() and name == name.lower()


def test_most_queries_have_oracles():
    """Streaming/approx ops may be rows-only, as may iterative fixpoints
    whose semantics exceed SQL (deletion fixpoints like graph_kcore —
    those must carry an exact non-SQL oracle in tests instead);
    everything else needs a DuckDB oracle."""
    qs = all_queries()
    no_oracle = {n for n, q in qs.items() if q.oracle is None}
    for name in no_oracle:
        assert any(
            t in ("streaming", "approx", "iterative") for t in qs[name].tags
        ), f"{name} lacks an oracle but is not tagged streaming/approx/iterative"
    assert len(no_oracle) <= len(qs) * 0.2


def test_entry_module_importable_without_spark_session():
    """The driver may call queries()/oracle_sql() before any session exists.

    Run in a clean interpreter: importing the whole registry (incl. pandas
    UDF modules) must not require an active SparkContext.
    """
    code = (
        f"import sys; sys.path.insert(0, {REPO!r});"
        "import __spark_entry__ as e;"
        "q = e.queries(); o = e.oracle_sql();"
        "assert len(q) >= 70 and set(o) <= set(q);"
        "print(len(q))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr[-2000:]


def test_docstrings_present():
    for name, q in all_queries().items():
        assert q.doc.strip(), f"{name} has no docstring"


def _fake_qs(specs):
    """name -> object with .oracle, preserving insertion (registry) order."""

    class Q:
        def __init__(self, oracle):
            self.oracle = oracle

    return {name: Q(oracle) for name, oracle in specs}


def test_sweep_order_groups(tmp_path):
    """The driver's 50-slot sweep depends on this ordering: prior-ERR
    oracle-backed ids first, never-stamped oracle-backed next, stamped-green
    after, rows-only dead last — registry order within each group."""
    import json
    import sys

    sys.path.insert(0, REPO)
    from __spark_entry__ import _sweep_order

    qs = _fake_qs(
        [
            ("green_a", "SELECT 1"),
            ("err_b", "SELECT 1"),
            ("fresh_c", "SELECT 1"),
            ("rowsonly_d", None),
            ("fresh_e", "SELECT 1"),
            ("err_rowsonly_f", None),
        ]
    )
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "green_a": {"hash_match": True, "err": None},
                "err_b": {"hash_match": False, "err": "boom"},
                "err_rowsonly_f": {"err": "no_oracle"},
            }
        )
    )
    order = _sweep_order(qs, correctness_dir=str(tmp_path))
    # err_b leads (prior-ERR, oracle-backed); never-stamped oracle ids in
    # registry order; stamped-green after; rows-only last (even a
    # stamped-err rows-only id — re-sweeping it can only record no_oracle
    # again)
    assert order == [
        "err_b",
        "fresh_c",
        "fresh_e",
        "green_a",
        "rowsonly_d",
        "err_rowsonly_f",
    ]


def test_sweep_order_latest_stamp_wins(tmp_path):
    """A later round's green stamp must clear an earlier round's err."""
    import json
    import sys

    sys.path.insert(0, REPO)
    from __spark_entry__ import _sweep_order

    qs = _fake_qs([("x", "SELECT 1"), ("y", "SELECT 1")])
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"x": {"err": "boom"}})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"x": {"hash_match": True, "err": None}})
    )
    order = _sweep_order(qs, correctness_dir=str(tmp_path))
    assert order == ["y", "x"]  # y never stamped ranks before green x


def test_sweep_order_new_round_ids_yield_slots():
    """Ids first registered this round rank at the TAIL of the
    never-stamped group: long-queued ids (the r3 LLM/mm block) must not be
    displaced from the driver's 50-slot sweep by registry-order accident."""
    import glob
    import json
    import sys

    sys.path.insert(0, REPO)
    from __spark_entry__ import _NEW_THIS_ROUND, _sweep_order

    qs = all_queries()
    order = _sweep_order(qs)
    pos = {n: i for i, n in enumerate(order)}
    stamped = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        stamped.update(json.load(open(path)))
    new_ids = [n for n in order if n in _NEW_THIS_ROUND and n not in stamped]
    if not new_ids:
        return  # all tail-listed ids stamped by a later round — rule is moot
    fresh_old = [
        n
        for n in order
        if qs[n].oracle is not None
        and n not in stamped
        and n not in _NEW_THIS_ROUND
    ]
    if not fresh_old:
        # Backlog fully stamped (a driver stamp file can land AFTER the
        # round's final commit) — there is nobody left for the new ids to
        # displace, so the rule is moot, exactly as when new_ids is empty.
        return
    worst_old = max(fresh_old, key=pos.get)
    best_new = min(new_ids, key=pos.get)
    assert pos[worst_old] < pos[best_new], (
        f"new id {best_new}@{pos[best_new]} displaces {worst_old}@{pos[worst_old]}"
    )


def test_sweep_order_backlog_cleared_new_pending(tmp_path, monkeypatch):
    """Synthetic fixture for the state that broke this test family twice
    (r5/r6): every old oracle-backed id already stamped, only tail-listed
    new ids pending. The sweep must simply put the new ids next (after
    nothing) and ahead of stamped-green — no assertion may fire just
    because the backlog is empty."""
    import json
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    qs = _fake_qs(
        [
            ("old_green_a", "SELECT 1"),
            ("new_pending_b", "SELECT 1"),
            ("old_green_c", "SELECT 1"),
            ("rowsonly_d", None),
        ]
    )
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "old_green_a": {"hash_match": True, "err": None},
                "old_green_c": {"hash_match": True, "err": None},
            }
        )
    )
    monkeypatch.setattr(
        entry, "_NEW_THIS_ROUND", frozenset({"new_pending_b"})
    )
    order = entry._sweep_order(qs, correctness_dir=str(tmp_path))
    assert order == ["new_pending_b", "old_green_a", "old_green_c", "rowsonly_d"]


def test_sweep_order_live_repo_state():
    """Invariants on the REAL CORRECTNESS files, derived from disk (not
    hardcoded to any round's stamp state — the driver writes a new stamp
    file after each round's final commit, legitimately reordering the
    sweep): prior-ERR oracle-backed ids lead, then every never-stamped
    oracle-backed id precedes every stamped-green one, and no rows-only id
    appears before any oracle-backed id."""
    import glob
    import json
    import sys

    sys.path.insert(0, REPO)
    from __spark_entry__ import _sweep_order

    qs = all_queries()
    order = _sweep_order(qs)
    pos = {n: i for i, n in enumerate(order)}

    latest: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        latest.update(json.load(open(path)))

    def group(name: str) -> int:
        if qs[name].oracle is None:
            return 3  # rows-only: dead last
        rec = latest.get(name)
        if rec is None:
            return 1  # never stamped
        return 0 if rec.get("err") else 2  # prior-ERR leads; green after

    groups_seen = [group(n) for n in order]
    assert groups_seen == sorted(groups_seen), (
        "sweep order violates group ordering derived from on-disk stamps"
    )
    # registry order preserved inside each group, except group 1 where
    # _NEW_THIS_ROUND ids are deliberately pushed to the group's tail
    from __spark_entry__ import _NEW_THIS_ROUND

    reg_pos = {n: i for i, n in enumerate(qs)}
    for g in (0, 1, 2, 3):
        members = [n for n in order if group(n) == g]
        if g == 1:
            old = [n for n in members if n not in _NEW_THIS_ROUND]
            new = [n for n in members if n in _NEW_THIS_ROUND]
            assert members == old + new, "new-round ids must yield slots"
            for part in (old, new):
                assert [reg_pos[n] for n in part] == sorted(
                    reg_pos[n] for n in part
                )
        else:
            assert [reg_pos[n] for n in members] == sorted(
                reg_pos[n] for n in members
            )
    del pos


def test_new_this_round_ledger_is_fresh():
    """r7-verdict task 1: `_NEW_THIS_ROUND` must hold ONLY ids the driver has
    never stamped. Once an id appears in any CORRECTNESS_r*.json its rank-1.5
    demotion is moot at best — and if a later round inherits the entry, it
    collides with that round's genuinely-new ids (the r7→r8 starvation
    hazard). This pins set ∩ stamped == ∅ at commit time, so each round's
    open MUST prune stamped ids and graduate the unstamped backlog."""
    import glob
    import json
    import sys

    sys.path.insert(0, REPO)
    from __spark_entry__ import _NEW_THIS_ROUND

    stamped: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        stamped.update(json.load(open(path)))
    stale = sorted(_NEW_THIS_ROUND & stamped)
    assert not stale, (
        f"{len(stale)} _NEW_THIS_ROUND entries already stamped (prune them): "
        f"{stale[:10]}"
    )
    # Every ledger entry must be a real, oracle-backed registry id — a typo
    # here silently loses the demotion it was meant to apply.
    qs = all_queries()
    unknown = sorted(n for n in _NEW_THIS_ROUND if n not in qs)
    assert not unknown, f"ledger ids not in registry: {unknown}"
    rowsonly = sorted(
        n for n in _NEW_THIS_ROUND if n in qs and qs[n].oracle is None
    )
    assert not rowsonly, f"rows-only ids never belong in the ledger: {rowsonly}"
