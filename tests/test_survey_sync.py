"""SURVEY.md §2 ⇄ registry drift gate (r7-verdict task 3).

The judge audits coverage by parsing §2's backticked query-id tokens; r7
found two inventory rows orphaned BELOW the Papers list (a §2-scoped parse
missed them) and a stale id-count note. This test ends the class: every
registry id must be named somewhere inside §2 ("## §2" .. "## §3"), and
every §2 token that *looks like* a query id must exist in the registry.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from streamline_hybrid_engine_spark import all_queries

SURVEY = os.path.join(REPO, "SURVEY.md")

#: Backticked §2 tokens that match a query-id prefix but are deliberately
#: NOT registry ids (Spark builtin names quoted in prose). Extend ONLY for
#: genuine prose mentions — an unexplained entry here is hidden drift.
_PROSE_ALLOWLIST = {"sort_array"}

#: Registry id prefixes — a backticked token with one of these prefixes is
#: treated as an id claim that must resolve against all_queries().
_ID_PREFIX = re.compile(
    r"^(agg|join|win|ts|cep|dq|llm|mm|fn|udf|udtf|scan|sink|sql|lake|set"
    r"|sort|limit|topk|pivot|unpivot|stream|graph|ivm|subquery|q\d+|cdc"
    r"|rowid|project|filter|flatmap|distinct|case|enrich|observe|cogroup)_"
)


def _section2() -> str:
    src = open(SURVEY).read()
    start = src.index("## §2")
    end = src.index("## §3")
    assert start < end
    return src[start:end]


def test_every_registry_id_is_in_survey_s2():
    s2_tokens = set(re.findall(r"`([a-z][a-z0-9_]+)`", _section2()))
    missing = sorted(set(all_queries()) - s2_tokens)
    assert not missing, (
        f"{len(missing)} registry ids absent from SURVEY.md §2: {missing[:15]}"
    )


def test_no_phantom_ids_in_survey_s2():
    s2_tokens = set(re.findall(r"`([a-z][a-z0-9_]+)`", _section2()))
    qs = set(all_queries())
    phantom = sorted(
        t
        for t in s2_tokens - qs - _PROSE_ALLOWLIST
        if _ID_PREFIX.match(t)
    )
    assert not phantom, (
        f"SURVEY.md §2 names id-like tokens with no registry entry: {phantom}"
    )


def test_inventory_note_matches_registry():
    """The §2 inventory-size note must state the live counts (stale '290'
    survived two READMEs in r7)."""
    qs = all_queries()
    total = len(qs)
    oracle = sum(1 for q in qs.values() if q.oracle is not None)
    note = next(
        (
            line
            for line in open(SURVEY)
            if line.startswith("**Inventory size note:**")
        ),
        None,
    )
    assert note is not None, "inventory size note removed from SURVEY.md"
    m = re.match(
        r"\*\*Inventory size note:\*\* (\d+) declared query ids[^(]*\((\d+) "
        r"oracle-backed, (\d+) rows-only",
        note,
    )
    assert m, f"inventory note unparseable: {note[:120]}"
    got = tuple(int(x) for x in m.groups())
    want = (total, oracle, total - oracle)
    assert got == want, f"inventory note says {got}, registry is {want}"
