"""Property-based differential testing (SURVEY §5.2): hypothesis-generated
micro-tables run through the SAME SQL on Spark and DuckDB.

This is the fuzzing layer the fixture-based parity can't give: arbitrary
values (nulls, empty strings, negatives, boundary ints) through the §2.8
function-bundle surface and core relational ops. Mirrors the reference's
expression tests (Flink ExpressionTestBase) with generated rather than
hand-picked inputs.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# one-off deep fuzz: SHE_FUZZ_SCALE=10 multiplies every max_examples
# (suite default 1 keeps CI fast; a pre-gate deep pass catches oracle
# divergences the small budgets miss)
import os

_FUZZ = max(1, int(os.environ.get("SHE_FUZZ_SCALE", "1")))

# value strategies: ints in both engines' comfortable range, short ASCII
# strings (the shared collation-free zone), and nulls everywhere
_ints = st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31 - 1))
_strs = st.one_of(
    st.none(),
    st.text(alphabet="abcdefghij XYZ0123456789_", min_size=0, max_size=12),
)

_rows = st.lists(st.tuples(_ints, _strs, _ints), min_size=0, max_size=25)

# SQL templates over a table t(a INT, s VARCHAR, b INT) — every query
# output is deterministically ordered and uses only engine-portable
# functions from the §2.8 bundles.
TEMPLATES = [
    # string bundle
    """SELECT s, upper(s) AS u, lower(s) AS l, length(s) AS n,
              trim(s) AS t, substr(s, 2, 3) AS sub, replace(s, 'a', 'Z') AS rep
       FROM t ORDER BY s NULLS FIRST, u NULLS FIRST, a NULLS FIRST""",
    # conditional / null bundle
    """SELECT a, b, coalesce(a, b, 0) AS c, nullif(a, b) AS nif,
              CASE WHEN a > b THEN 'gt' WHEN a = b THEN 'eq' ELSE 'other' END AS cmp
       FROM t ORDER BY a NULLS FIRST, b NULLS FIRST, s NULLS FIRST""",
    # aggregation core
    """SELECT count(*) AS n, count(a) AS na, min(a) AS mn, max(a) AS mx,
              count(DISTINCT s) AS ds
       FROM t""",
    # grouped agg + having
    """SELECT s, count(*) AS n, min(a) AS mn
       FROM t GROUP BY s HAVING count(*) >= 1
       ORDER BY s NULLS FIRST, n, mn NULLS FIRST""",
    # distinct + set-ish
    """SELECT DISTINCT s FROM t ORDER BY s NULLS FIRST""",
    # window functions
    """SELECT a, s, row_number() OVER (ORDER BY a NULLS FIRST, s NULLS FIRST, b NULLS FIRST) AS rn
       FROM t ORDER BY rn""",
    # math bundle (abs/mod guarded against nulls; no division)
    """SELECT a, abs(a) AS ab, a % 7 AS m7, sign(a) AS sg
       FROM t ORDER BY a NULLS FIRST, s NULLS FIRST, b NULLS FIRST""",
    # pivot idiom: conditional aggregation incl. NULL-counting cells
    """SELECT s,
              SUM(CASE WHEN a > 0 THEN a END) AS pos,
              SUM(CASE WHEN a <= 0 THEN a END) AS nonpos,
              count(CASE WHEN b IS NULL THEN 1 END) AS nb
       FROM t GROUP BY s ORDER BY s NULLS FIRST""",
    # bitwise subset shared by both dialects (two's-complement on BIGINT)
    """SELECT a, CAST(a & 255 AS BIGINT) AS band, CAST(a | 16 AS BIGINT) AS bor,
              bit_count(CAST(a AS BIGINT)) AS bits
       FROM t ORDER BY a NULLS FIRST, s NULLS FIRST, b NULLS FIRST""",
    # multiset set ops (r3: intersectAll/exceptAll contract rows)
    """SELECT x FROM (SELECT a AS x FROM t INTERSECT ALL SELECT b FROM t)
       ORDER BY x NULLS FIRST""",
    """SELECT x FROM (SELECT a AS x FROM t EXCEPT ALL SELECT b FROM t)
       ORDER BY x NULLS FIRST""",
    # edit distance (r3: llm_dedup_edit_verify) — null-guarded
    """SELECT s, levenshtein(coalesce(s, ''), 'abc XYZ') AS lev
       FROM t ORDER BY s NULLS FIRST, a NULLS FIRST, b NULLS FIRST""",
    # TRY_CAST semantics on arbitrary strings (r3: fn_try_bundle).
    # KNOWN DIVERGENCE, found by this very suite (r5, falsifying input
    # '0_0'): DuckDB accepts '_' as a digit separator in string→int casts
    # (TRY_CAST('0_0') = 0) while Spark rejects it (NULL) — so underscores
    # are substituted out of the cast input; every other malformed-string
    # path still fuzzes. Contract rows are unaffected (fn_try_bundle casts
    # returnflag/stringified-numbers, which never contain '_').
    # Same family, falsifying input '0e0': DuckDB also reads exponent
    # ('0e0' = 0, '2e9' = 2000000000) and binary ('0b101' = 5) literals in
    # string→int casts, Spark returns NULL for both. Only the cast result
    # is guarded (NULL on both sides when s holds 'e' or 'b'); s itself,
    # its output column and the ORDER BY still fuzz with those letters.
    """SELECT s, TRY_CAST(replace(s, '_', '#') AS INTEGER)
              * CASE WHEN s LIKE '%e%' OR s LIKE '%b%' THEN NULL ELSE 1 END AS ti
       FROM t ORDER BY s NULLS FIRST, a NULLS FIRST, b NULLS FIRST""",
    # exact interpolated median over generated ints (r3: agg_median_mode)
    """SELECT s, round(median(a), 6) AS med, count(a) AS n
       FROM t GROUP BY s ORDER BY s NULLS FIRST""",
    # r5: two-level aggregation with the zero-preserving outer-join filter
    # (q13 shape — moving the ON-clause filter to WHERE is the classic bug)
    """SELECT c_count, count(*) AS custdist FROM (
         SELECT t1.a, count(t2.b) AS c_count
         FROM (SELECT DISTINCT a FROM t WHERE a IS NOT NULL) t1
         LEFT JOIN t t2 ON t1.a = t2.a AND t2.b > 0
         GROUP BY t1.a) g
       GROUP BY c_count ORDER BY c_count""",
    # r5: threshold-vs-global-aggregate (q11/q22 shape, exact ints)
    """SELECT a, b FROM t
       WHERE a > (SELECT CAST(floor(CAST(sum(b) AS DOUBLE) / count(*) ) AS BIGINT)
                  FROM t WHERE b IS NOT NULL)
       ORDER BY a NULLS FIRST, b NULLS FIRST, s NULLS FIRST""",
    # r5: equality-to-max keeps all tied rows (q15 shape)
    """SELECT s, a FROM t
       WHERE a IS NOT NULL AND a = (SELECT max(a) FROM t)
       ORDER BY s NULLS FIRST, a""",
    # r5: DISTINCT aggregates (no shared ordered-LISTAGG spelling exists —
    # Spark wants WITHIN GROUP, DuckDB wants in-call ORDER BY; the listagg
    # contract row covers that pair with per-dialect text)
    """SELECT count(DISTINCT a) AS da, sum(DISTINCT a) AS sa,
              count(DISTINCT s) AS ds
       FROM t""",
    # r5: nth_value over a full frame with a total tiebreak
    """SELECT DISTINCT nth_value(a, 2) OVER (
         ORDER BY a NULLS FIRST, s NULLS FIRST, b NULLS FIRST
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_a
       FROM t""",
    # r7: running aggregates under a total order — the cumulative-window
    # face the interval-merge / weighted-median family leans on (exact
    # integer sums; running max mirrors the island detector's prev-frame)
    """SELECT a, s, b,
              sum(coalesce(b, 0)) OVER (
                ORDER BY a NULLS FIRST, s NULLS FIRST, b NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
              max(a) OVER (
                ORDER BY a NULLS FIRST, s NULLS FIRST, b NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
              row_number() OVER (
                ORDER BY a NULLS FIRST, s NULLS FIRST, b NULLS FIRST) AS rn
       FROM t ORDER BY rn""",
]


@pytest.fixture(scope="module")
def duck_mem():
    return duckdb.connect()


def _canon(df: pd.DataFrame) -> list:
    df = df.reindex(sorted(df.columns), axis=1)
    out = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NA:
                vals.append(None)
            elif isinstance(v, float) and v == int(v):
                vals.append(int(v))
            else:
                vals.append(int(v) if isinstance(v, (int,)) else v)
        out.append(tuple(repr(x) for x in vals))
    return out


@pytest.mark.parametrize("sql", TEMPLATES)
@settings(
    max_examples=15 * _FUZZ,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_differential_sql(spark, duck_mem, sql, rows):
    pdf = pd.DataFrame(rows, columns=["a", "s", "b"]).astype(
        {"a": "Int64", "s": "object", "b": "Int64"}
    )
    sdf = spark.createDataFrame(pdf.astype(object), schema="a long, s string, b long")
    sdf.createOrReplaceTempView("t")
    got = _canon(spark.sql(sql).toPandas())

    duck_mem.register("t", pdf)
    want = _canon(duck_mem.execute(sql).fetchdf())
    assert got == want, f"template: {sql[:60]}..."


# ---- CEP NFA differential fuzz (operators/cep.py) -------------------------
# Random multi-user event sequences (duplicate timestamps, >timeout gaps,
# interleaved irrelevant events) through the Spark applyInPandas NFA vs an
# in-test reference scan. Guards the plumbing the synthetic unit tests
# can't: group mixing, (ts, event_id) tiebreaks, Arrow timestamp units.

_event = st.tuples(
    st.integers(min_value=1, max_value=3),          # user_id
    st.sampled_from(["view", "click", "purchase", "error"]),
    st.integers(min_value=0, max_value=3000),       # minutes offset (50h span)
)
_sequences = st.lists(_event, min_size=0, max_size=18)


def _ref_matches(rows, timeout_us):
    """Independent greedy-NFA reference: per user, expire-then-consume."""
    byuser = {}
    for eid, (u, t, m) in enumerate(rows):
        byuser.setdefault(u, []).append((m * 60_000_000, eid, t))
    out = []
    for u, evs in byuser.items():
        evs.sort(key=lambda e: (e[0], e[1]))
        view = click = None
        for us, eid, t in evs:
            if view is not None and us - view[0] > timeout_us:
                view = click = None
            if view is None:
                if t == "view":
                    view = (us, eid)
            elif click is None:
                if t == "click":
                    click = eid
            elif t == "purchase":
                out.append(
                    (u, view[1], click, eid, round((us - view[0]) / 1e6, 6))
                )
                view = click = None
    return sorted(out)


@settings(
    max_examples=10 * _FUZZ,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_sequences)
def test_cep_nfa_matches_reference(spark, rows):
    import datetime as dt

    from streamline_hybrid_engine_spark.operators.cep import TIMEOUT_US, match_abc

    t0 = dt.datetime(2024, 1, 1)
    data = [
        (u, eid, t, t0 + dt.timedelta(minutes=m))
        for eid, (u, t, m) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, event_id long, event_type string, ts timestamp"
    )
    got = sorted(
        (r.user_id, r.view_id, r.click_id, r.purchase_id, r.span_s)
        for r in match_abc(df).collect()
    )
    assert got == _ref_matches(rows, TIMEOUT_US)


_patterns = st.sampled_from(
    [
        ("view", "click"),
        ("error", "purchase"),
        ("view", "click", "purchase"),
        ("signup", "view", "click", "purchase"),
    ]
)


@settings(
    max_examples=8 * _FUZZ,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_sequences, steps=_patterns, timeout_h=st.sampled_from([1, 10, 1000]))
def test_cep_generated_oracle_matches_spark(spark, rows, steps, timeout_h):
    """Cross-engine fuzz of the PATTERN API itself: random (pattern,
    timeout, sequence) through the Spark Arrow runner vs the GENERATED
    DuckDB recursive-CTE oracle — two independent executions of one
    PatternSpec. Guards the oracle generator for every pattern length,
    not just the two instantiated contract patterns."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from streamline_hybrid_engine_spark.operators.cep import (
        compile_pattern,
        match_pattern,
        pattern_oracle,
    )

    spec = compile_pattern(steps, timeout_h * 3_600_000_000)
    t0 = dt.datetime(2024, 1, 1)
    data = [
        (u, eid, t, t0 + dt.timedelta(minutes=m))
        for eid, (u, t, m) in enumerate(rows)
    ]
    sdf = spark.createDataFrame(
        data, "user_id long, event_id long, event_type string, ts timestamp"
    )
    got = sorted(tuple(r) for r in match_pattern(sdf, spec).collect())
    pdf = pd.DataFrame(data, columns=["user_id", "event_id", "event_type", "ts"])
    duck = duckdb.connect()
    duck.register("events", pdf)
    want = sorted(tuple(r) for r in duck.execute(pattern_oracle(spec)).fetchall())
    assert got == want


# ---- r6/r7 surface fuzz: quantified CEP, collation, theta/KMV -------------

_QSPECS = [
    # (entries, note) — last slot always plain (engine contract)
    ((("a", "view", 1, None), ("b", "purchase", 1, 1)), "plus"),
    ((("a", "view", 1, 3), ("b", "purchase", 1, 1)), "bounded"),
    ((("a", "view", 2, None), ("b", "click", 0, 1), ("c", "purchase", 1, 1)), "min2-opt"),
    ((("a", "view", 0, None), ("b", "purchase", 1, 1)), "star"),
    (
        (
            ("a", "error", 1, 1),
            ("b", "view", 1, 2),
            ("c", "click", 0, 1),
            ("d", "purchase", 1, 1),
        ),
        "mixed4",
    ),
]


@settings(
    max_examples=8 * _FUZZ,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=_sequences,
    spec_i=st.integers(min_value=0, max_value=len(_QSPECS) - 1),
    timeout_h=st.sampled_from([1, 10, 1000]),
)
def test_cep_quantified_oracle_matches_spark(spark, rows, spec_i, timeout_h):
    """Quantified-pattern differential: random (counter-NFA spec, timeout,
    sequence) through the Spark Arrow runner vs the GENERATED DuckDB
    recursive-CTE oracle — the r7 sibling of
    test_cep_generated_oracle_matches_spark, covering absorb/max-stop,
    min-gate jumps, zero-min skips and timeout resets under fuzz."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from streamline_hybrid_engine_spark.operators.cep import (
        compile_quantified,
        match_pattern,
        quantified_oracle,
    )

    spec = compile_quantified(_QSPECS[spec_i][0], timeout_h * 3_600_000_000)
    t0 = dt.datetime(2024, 1, 1)
    data = [
        (u, eid, t, t0 + dt.timedelta(minutes=m))
        for eid, (u, t, m) in enumerate(rows)
    ]
    sdf = spark.createDataFrame(
        data, "user_id long, event_id long, event_type string, ts timestamp"
    )
    # None-safe sort key: a zero-min step's anchors are NULL when it
    # matched zero times, so one match row can carry None where another
    # carries an int in the same column — raw tuple sorting raises
    # TypeError there (hypothesis found the two-simultaneous-purchase
    # shape that produces BOTH kinds of match; engine and oracle agree
    # exactly on the rows, the harness just couldn't order them).
    def canon(t):
        return tuple((x is None, x) for x in t)

    got = sorted(
        (tuple(r) for r in match_pattern(sdf, spec).collect()), key=canon
    )
    pdf = pd.DataFrame(data, columns=["user_id", "event_id", "event_type", "ts"])
    duck = duckdb.connect()
    duck.register("events", pdf)
    want = sorted(
        (tuple(r) for r in duck.execute(quantified_oracle(spec)).fetchall()),
        key=canon,
    )
    assert got == want


_q_bounds = st.one_of(
    st.just((1, 1)),
    st.just((1, None)),
    st.just((0, None)),
    st.just((0, 1)),
    st.tuples(st.integers(1, 4), st.integers(0, 3)).map(
        lambda t: (t[0], t[0] + t[1])
    ),
    st.integers(1, 4).map(lambda m: (m, None)),
)


@settings(max_examples=30 * _FUZZ, deadline=None)
@given(
    n=st.integers(min_value=2, max_value=5),
    bounds=st.lists(_q_bounds, min_size=5, max_size=5),
    timeout_min=st.integers(min_value=1, max_value=10_000),
)
def test_match_recognize_format_parse_roundtrip(n, bounds, timeout_min):
    """parse(format(spec)) == spec for random quantified specs — pins the
    text face's printer/parser pair (quantifier suffix spellings, unit
    choice for WITHIN, var casing) against each other."""
    from streamline_hybrid_engine_spark.operators.cep import (
        compile_quantified,
        format_match_recognize,
        parse_match_recognize,
    )

    etypes = ["view", "click", "purchase", "error", "signup"][:n]
    entries = tuple(
        (f"x{i}", e, *bounds[i]) for i, e in enumerate(etypes[:-1])
    ) + ((f"x{n - 1}", etypes[-1], 1, 1),)
    spec = compile_quantified(entries, timeout_min * 60_000_000)
    text = format_match_recognize(spec)
    parsed, part, order = parse_match_recognize(text)
    assert (part, order) == ("user_id", "ts")
    if all(b == (1, 1) for b in bounds[: n - 1]):
        # all-plain patterns parse to the plain NFA (by design): compare
        # the semantic content instead of the class
        assert parsed.steps == tuple(s.etype for s in spec.slots)
        assert parsed.timeout_us == spec.timeout_us
    else:
        assert parsed == spec


_ci_strs = st.one_of(
    st.none(),
    st.text(alphabet="aAbBcC xyZ01", min_size=0, max_size=8),
)


@settings(
    max_examples=15 * _FUZZ,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_ci_strs, min_size=0, max_size=25), lit=st.sampled_from(["aB c", "ab", "XY", ""]))
def test_collation_ci_equals_lower_fold(spark, duck_mem, rows, lit):
    """Spark's UTF8_LCASE collation surface (equality, DISTINCT,
    contains, ILIKE) vs DuckDB lower-folds — the cross-engine definition
    the fn_collation_bundle oracle rests on, here under fuzz (mixed-case
    ASCII, nulls, empty strings) instead of the fixture's source ids."""
    import pyspark.sql.functions as F

    pdf = pd.DataFrame({"s": rows}).astype("object")
    # pandas coerces None-only frames oddly; force object strings
    sdf = spark.createDataFrame(
        [(v,) for v in rows], schema="s string"
    )
    ci = F.expr("collate(s, 'UTF8_LCASE')")
    got = (
        spark.createDataFrame([(v,) for v in rows], schema="s string")
        .agg(
            F.countDistinct(ci).alias("d_ci"),
            F.count_if(ci == lit).alias("n_eq"),
            F.count_if(F.contains(ci, F.lit("aB"))).alias("n_ct"),
            F.count_if(F.col("s").ilike("%aB%")).alias("n_il"),
        )
        .collect()[0]
    )
    duck_mem.register("tc", pdf)
    want = duck_mem.execute(
        f"""SELECT count(DISTINCT lower(s)) AS d_ci,
                  count(*) FILTER (lower(s) = lower('{lit}')) AS n_eq,
                  count(*) FILTER (contains(lower(s), lower('aB'))) AS n_ct,
                  count(*) FILTER (s ILIKE '%aB%') AS n_il
           FROM tc"""
    ).fetchone()
    assert tuple(got) == tuple(want)


@settings(max_examples=25 * _FUZZ, deadline=None)
@given(
    a_keys=st.lists(st.integers(0, 5000), max_size=40),
    b_keys=st.lists(st.integers(0, 5000), max_size=40),
)
def test_theta_kmv_identities(a_keys, b_keys):
    """Theta/KMV estimator identities under fuzz, against an INDEPENDENT
    Python md5 implementation of the kept-hash rule: inclusion-exclusion
    (est_union = est_a + est_b - est_intersect), difference
    (est_a_minus_b = est_a - est_intersect), monotonicity
    (est_intersect <= min(est_a, est_b)), and mergeability — the sketch
    of A∪B IS the union of kept hashes, so estimating A∪B directly must
    equal the flag-arithmetic est_union the contract row computes."""
    import hashlib

    from streamline_hybrid_engine_spark.operators.sketches import (
        THETA_MAX,
        THETA_RATE,
    )

    def kept(k: int) -> bool:
        return (
            int(hashlib.md5(str(k).encode()).hexdigest()[:12], 16)
            < THETA_MAX // THETA_RATE
        )

    A, B = set(a_keys), set(b_keys)
    est_a = sum(kept(k) for k in A) * THETA_RATE
    est_b = sum(kept(k) for k in B) * THETA_RATE
    est_union = sum(kept(k) for k in A | B) * THETA_RATE
    est_int = sum(kept(k) for k in A & B) * THETA_RATE
    est_diff = sum(kept(k) for k in A - B) * THETA_RATE
    assert est_union == est_a + est_b - est_int
    assert est_diff == est_a - est_int
    assert est_int <= min(est_a, est_b)
    # flag-arithmetic form (the contract row's single-pass aggregate)
    flag_union = (
        sum(kept(k) for k in A) * THETA_RATE
        + sum(kept(k) for k in B - A) * THETA_RATE
    )
    assert flag_union == est_union


# --- r7 third-wave primitives vs independent reference models -------------------

_series = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),       # key
        st.integers(min_value=0, max_value=1000),    # ts (ties allowed)
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=0,
    max_size=40,
)


@settings(max_examples=25 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_series, target=st.integers(-5, 5), h=st.integers(0, 50))
def test_cusum_window_identity_matches_sequential_fold(spark, rows, target, h):
    """The prefix identity S_i = C_i − min(0, min_{j≤i} C_j) must equal
    the textbook recurrence S_i = max(0, S_{i−1} + d_i) on ARBITRARY
    integer series — the identity the cusum() primitive (and its
    streaming face) stands on."""
    from streamline_hybrid_engine_spark import cusum

    # unique (key, ts) ordering: dedupe ties via enumerate tiebreak
    uniq = [(k, t, i, v) for i, (k, t, v) in enumerate(rows)]
    expected = {}
    state: dict = {}
    for k, t, i, v in sorted(uniq):
        s_prev = state.get(k, 0)
        s = max(0, s_prev + (v - target))
        state[k] = s
        expected[(k, t, i)] = (s, 1 if s > h else 0)
    if not uniq:
        return
    df = spark.createDataFrame(uniq, "k long, t long, i long, v long")
    got = {
        (r["k"], r["t"], r["i"]): (r["cusum_stat"], r["cusum_alarm"])
        for r in cusum(df, "v", ["k"], ["t", "i"], target=target, threshold=h).collect()
    }
    assert got == expected


@settings(max_examples=25 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 50)),
        min_size=0,
        max_size=30,
    )
)
def test_skyline_window_matches_bruteforce_dominance(spark, pts, duck_mem):
    """The sort-filter window skyline must equal the O(n²) dominance
    definition (minimize x, maximize y; a point survives iff no OTHER
    point has x ≤ its x AND y ≥ its y with at least one strict) —
    including duplicate coordinates and co-maxima ties."""
    ids = [(i, x, y) for i, (x, y) in enumerate(pts)]
    if not ids:
        return
    survivors = set()
    for i, x, y in ids:
        dominated = any(
            (x2 <= x and y2 >= y and (x2 < x or y2 > y))
            for j, x2, y2 in ids
            if j != i
        )
        if not dominated:
            survivors.add((x, y))
    # duplicates of a surviving point: the window form keeps the first
    # by tiebreak; dominance keeps all copies (they don't strictly beat
    # each other) — compare the SET of surviving coordinates.
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    df = spark.createDataFrame(ids, "i long, x long, y long")
    # the corrected two-frame form agg_skyline_2d uses: strictly-cheaper
    # via a RANGE frame + equal-x sibling max (the original ROWS-frame
    # form failed THIS test on pts=[(0,0),(0,1)])
    w = Window.orderBy("x").rangeBetween(Window.unboundedPreceding, -1)
    wx = Window.partitionBy("x")
    ranked = df.withColumn("best", F.max("y").over(w)).withColumn(
        "best_at_x", F.max("y").over(wx)
    )
    got = {
        (r["x"], r["y"])
        for r in ranked.filter(
            (F.col("best").isNull() | (F.col("y") > F.col("best")))
            & (F.col("y") == F.col("best_at_x"))
        ).collect()
    }
    assert got == survivors


@settings(max_examples=25 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_series, quiet=st.integers(0, 50))
def test_debounce_matches_sequential_simulation(spark, rows, quiet):
    """debounce() (lag-based) must keep exactly the rows a sequential
    replay keeps: first per key, then any row > quiet after the
    previous RAW row."""
    from streamline_hybrid_engine_spark import debounce

    uniq = [(k, t, i) for i, (k, t, _) in enumerate(rows)]
    if not uniq:
        return
    expected = set()
    last: dict = {}
    for k, t, i in sorted(uniq):
        if k not in last or t - last[k] > quiet:
            expected.add((k, t, i))
        last[k] = t  # raw debounce: previous event, kept or not
    df = spark.createDataFrame(uniq, "k long, t long, i long")
    got = {
        (r["k"], r["t"], r["i"])
        for r in debounce(df, ["k"], "t", ["t", "i"], quiet_us=quiet).collect()
    }
    assert got == expected


@settings(max_examples=25 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_series, max_age=st.integers(0, 60))
def test_fill_forward_limited_matches_simulation(spark, rows, max_age):
    """fill_forward_limited() must equal a sequential LOCF replay with
    the same staleness bound; negative values double as the non-null
    markers (None injected for v == 0)."""
    from streamline_hybrid_engine_spark import fill_forward_limited

    uniq = [
        (k, t, i, None if v == 0 else v) for i, (k, t, v) in enumerate(rows)
    ]
    if not uniq:
        return
    expected = {}
    carry: dict = {}
    for k, t, i, v in sorted(uniq, key=lambda r: (r[0], r[1], r[2])):
        if v is not None:
            carry[k] = (v, t)
        cv, ct = carry.get(k, (None, None))
        if cv is not None and t - ct <= max_age:
            expected[(k, t, i)] = (cv, t - ct)
        else:
            expected[(k, t, i)] = (None, None)
    df = spark.createDataFrame(uniq, "k long, t long, i long, v long")
    got = {
        (r["k"], r["t"], r["i"]): (r["filled"], r["fill_age_us"])
        for r in fill_forward_limited(
            df, "v", "t", ["k"], ["t", "i"], max_age_us=max_age
        ).collect()
    }
    assert got == expected


def _lcs_classic(a: list, b: list) -> int:
    """Textbook O(n·m) DP — the independent reference for the bit-parallel
    fold (different algorithm, same recurrence)."""
    m = len(b)
    prev = [0] * (m + 1)
    for x in a:
        cur = [0] * (m + 1)
        for j in range(1, m + 1):
            cur[j] = prev[j - 1] + 1 if b[j - 1] == x else max(prev[j], cur[j - 1])
        prev = cur
    return prev[m]


@settings(max_examples=20 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(
            st.lists(st.sampled_from(["x", "y", "z"]), max_size=40),
            st.lists(st.sampled_from(["x", "y", "z"]), max_size=40),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_lcs_bitparallel_matches_classic_dp(spark, duck_mem, pairs):
    """llm_rouge_l_pairs' one-word CIPR fold must equal the classic LCS
    DP on arbitrary token lists (tiny alphabet → heavy repeats, the case
    where carry propagation in (L + (L & M)) is busiest), on BOTH
    evaluators: the Spark `aggregate` expression and the DuckDB
    recursive-CTE oracle form."""
    from streamline_hybrid_engine_spark.llm.text import _LCS_EXPR

    expected = [_lcs_classic(a, b) for a, b in pairs]

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a array<string>, b array<string>",
    )
    got_spark = {
        r["i"]: r["lcs"]
        for r in df.selectExpr("i", f"{_LCS_EXPR} AS lcs").collect()
    }
    assert [got_spark[i] for i in range(len(pairs))] == expected

    duck_mem.execute("CREATE OR REPLACE TABLE lcs_pairs (i BIGINT, a VARCHAR[], b VARCHAR[])")
    duck_mem.executemany(
        "INSERT INTO lcs_pairs VALUES (?, ?, ?)",
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
    )
    got_duck = dict(
        duck_mem.execute(
            """
    WITH RECURSIVE dp AS (
      SELECT i, a, b, 0 AS r,
             CAST((CAST(1 AS BIGINT) << len(b)) - 1 AS BIGINT) AS L
      FROM lcs_pairs
      UNION ALL
      SELECT i, a, b, r + 1,
             CAST((((L + (L & M)) | (L & ~M))
                   & ((CAST(1 AS BIGINT) << len(b)) - 1)) AS BIGINT)
      FROM (
        SELECT i, a, b, r, L,
               CAST(coalesce(list_sum(list_transform(range(1, len(b) + 1),
                     j -> CASE WHEN b[j] = a[r + 1]
                          THEN (CAST(1 AS BIGINT) << (j - 1))
                          ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS M
        FROM dp WHERE r < len(a)
      )
    )
    SELECT i, CAST(len(b) - bit_count(CAST(L AS BIGINT)) AS BIGINT)
    FROM dp WHERE r = len(a)
            """
        ).fetchall()
    )
    assert [got_duck[i] for i in range(len(pairs))] == expected


#: lengths that stress the multi-word fold's carry chain: the 62-bit
#: word boundaries (61/62/63, 123/124/125) where a carry must cross
#: words, plus the 64-bit-intuition clips (64/65, 127/128) the r8
#: verdict named, plus degenerate empties
_LCS_BOUNDARY_LENGTHS = st.one_of(
    st.integers(0, 5),
    st.integers(60, 66),
    st.integers(122, 128),
)


@settings(max_examples=10 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(
            st.tuples(_LCS_BOUNDARY_LENGTHS, st.randoms(use_true_random=False)),
            st.tuples(_LCS_BOUNDARY_LENGTHS, st.randoms(use_true_random=False)),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_lcs_multiword_matches_classic_dp(spark, duck_mem, pairs):
    """llm_rouge_l_long's multi-word carry-chained CIPR fold (r8 verdict
    task 4) must equal the classic LCS DP at every word boundary — token
    lengths straddle 61/62/63 and 123/124/125 (where the 62-bit words
    split and the addition's carry must propagate across words) plus the
    64/65 and 127/128 clips the verdict named — on BOTH evaluators: the
    Spark k-word fold and the DuckDB single-HUGEINT-word recursive CTE
    (two machine arithmetics, one recurrence). Tiny alphabet keeps the
    carry chain busiest (long runs of matches saturate L + (L & M))."""
    from streamline_hybrid_engine_spark.llm.text import lcs_fold_expr

    mk = lambda n, rng: [rng.choice("xy") for _ in range(n)]
    toks = [(mk(na, ra), mk(nb, rb)) for (na, ra), (nb, rb) in pairs]
    expected = [_lcs_classic(a, b) for a, b in toks]

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(toks)],
        "i long, a array<string>, b array<string>",
    )
    expr = lcs_fold_expr(128)
    got_spark = {
        r["i"]: r["lcs"]
        for r in df.selectExpr("i", f"{expr} AS lcs").collect()
    }
    assert [got_spark[i] for i in range(len(toks))] == expected

    # the per-doc mask-map spelling (what the registry id actually runs
    # since the r9 candidate-degree amortization) must fold to the same
    # arithmetic: same words, same carry chain, map lookups for M
    from streamline_hybrid_engine_spark.llm.text import (
        lcs_bmap_expr,
        lcs_fold_map_expr,
    )

    got_map = {
        r["i"]: r["lcs"]
        for r in df.selectExpr(
            "i",
            "a",
            f"{lcs_bmap_expr(128)} AS bm",
            "CAST(size(b) AS INT) AS nb",
        )
        .selectExpr("i", f"{lcs_fold_map_expr(128)} AS lcs")
        .collect()
    }
    assert [got_map[i] for i in range(len(toks))] == expected

    # the DuckDB form holds the state in ONE HUGEINT word, so it is only
    # defined for len(b) ≤ 126 (1 << 127 overflows signed 128) — exactly
    # why the registry id clips at ROUGE_L_LONG_CLIP = 126; the Spark
    # fold above still covers 127/128
    duck_pairs = [(i, a, b) for i, (a, b) in enumerate(toks) if len(b) <= 126]
    duck_mem.execute(
        "CREATE OR REPLACE TABLE lcsw_pairs (i BIGINT, a VARCHAR[], b VARCHAR[])"
    )
    duck_mem.executemany(
        "INSERT INTO lcsw_pairs VALUES (?, ?, ?)", duck_pairs
    ) if duck_pairs else None
    got_duck = dict(
        duck_mem.execute(
            """
    WITH RECURSIVE dp AS (
      SELECT i, a, b, 0 AS r, ((1::HUGEINT << len(b)) - 1) AS L
      FROM lcsw_pairs
      UNION ALL
      SELECT i, a, b, r + 1,
             (((L + (L & M)) | (L & ~M)) & ((1::HUGEINT << len(b)) - 1))
      FROM (
        SELECT i, a, b, r, L,
               coalesce(list_sum(list_transform(range(1, len(b) + 1),
                     j -> CASE WHEN b[j] = a[r + 1]
                          THEN (1::HUGEINT << (j - 1))
                          ELSE 0::HUGEINT END)), 0::HUGEINT) AS M
        FROM dp WHERE r < len(a)
      )
    )
    SELECT i, CAST(len(b) - bit_count(L) AS BIGINT)
    FROM dp WHERE r = len(a)
            """
        ).fetchall()
    )
    assert [got_duck[i] for i, _, _ in duck_pairs] == [
        expected[i] for i, _, _ in duck_pairs
    ]


# --- r8 templates: the r7 wave-4/5 primitives (verdict task 8) ---------------

ATTR_LOOKBACK_US = 86_400_000_000  # the 24 h bound the int64 encoding rides on


@settings(max_examples=15 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),  # group
            st.one_of(  # offset: interior + the exact window boundary
                st.integers(0, ATTR_LOOKBACK_US),
                st.just(ATTR_LOOKBACK_US),
                st.just(0),
            ),
            st.one_of(  # touch id: interior + the encoding's id ceiling
                st.integers(0, 9_999_999),
                st.just(9_999_999),
                st.just(0),
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_first_last_touch_matches_sequential(spark, rows):
    """The bounded-offset composite key (offset·10⁷ + id) must reproduce
    the plain sequential definition — first touch = largest offset, tie
    smallest id; last touch = smallest offset, tie smallest id — INCLUDING
    the int64 boundary the r7 session already overflowed once (offset at
    the full 24 h window × id at the 9,999,999 ceiling)."""
    from streamline_hybrid_engine_spark import first_last_touch

    expected = {}
    for g, off, tid in rows:
        f, l = expected.get(g, ((-1, 0), (ATTR_LOOKBACK_US + 1, 0)))
        if (off, -tid) > (f[0], -f[1]):
            f = (off, tid)
        if (off, tid) < l:
            l = (off, tid)
        expected[g] = (f, l)

    df = spark.createDataFrame(rows, "g long, off long, tid long")
    got = {
        r["g"]: (r["first_touch_id"], r["last_touch_id"])
        for r in first_last_touch(df, ["g"], "off", "tid").collect()
    }
    assert got == {g: (f[1], l[1]) for g, (f, l) in expected.items()}


@settings(max_examples=15 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(-5, 5), st.integers(0, 1)),  # (score, label)
        min_size=2,
        max_size=60,
    )
)
def test_binary_auc_matches_pairwise(spark, rows):
    """The integral tie-averaged rank form (2·rank + ties − 1) must equal
    the O(n²) pairwise definition: AUC = (#[s⁺>s⁻] + ½#[s⁺=s⁻]) / n⁺n⁻.
    Small score alphabet → heavy ties, the case the integrality trick is
    for. Reference rounding is HALF-UP, matching Spark/DuckDB round():
    the r10 deep fuzz (SHE_FUZZ_SCALE=10) found an AUC landing exactly on
    a 6th-decimal half (0.7265625 — dyadic, so the double is exact) where
    Python's banker's round() said .726562 against both engines' .726563;
    the engines agree with each other, the old mirror didn't."""
    import math

    from streamline_hybrid_engine_spark import binary_auc

    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    df = spark.createDataFrame(rows, "s long, y int")
    got = binary_auc(df, "s", "y").collect()[0]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    if not pos or not neg:
        assert got["auc"] is None
        return
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    raw = (wins + 0.5 * ties) / (len(pos) * len(neg))
    expected = math.floor(raw * 1e6 + 0.5) / 1e6  # HALF_UP, AUC >= 0
    assert got["auc"] == pytest.approx(expected, abs=1e-9)


@settings(max_examples=15 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(-9, 9), st.integers(0, 1)),  # (score, label)
        min_size=2,
        max_size=60,
    ),
    bin_width=st.sampled_from([1, 2, 3, 5, 100]),
)
def test_binary_auc_binned_equals_global_rank(spark, rows, bin_width):
    """The binned-offset rank decomposition must reproduce binary_auc to
    the last bit for EVERY bin width: width 1 (every score its own bin —
    the offset table does all the ranking), tiny widths that put bin
    boundaries between tied scores on both sides of zero (negative
    scores exercise div's truncate-toward-zero bins, including the
    double-width bin straddling 0), and width 100 (one bin — the window
    does all the ranking, offset identically 0). One-class inputs must
    yield the same NULL auc through try_divide."""
    from streamline_hybrid_engine_spark import binary_auc, binary_auc_binned

    df = spark.createDataFrame(rows, "s long, y int")
    want = binary_auc(df, "s", "y").collect()[0]
    got = binary_auc_binned(df, "s", "y", bin_width=bin_width).collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (want["n_pos"], want["n_neg"])
    if want["auc"] is None:
        assert got["auc"] is None
    else:
        assert got["auc"] == want["auc"]


@settings(max_examples=10 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["aa", "bb", "cc"]),       # group
            st.integers(-9, 9),                        # score
            st.integers(0, 1),                         # label
        ),
        min_size=2,
        max_size=60,
    ),
    bin_width=st.sampled_from([1, 3, 100]),
)
def test_binary_auc_binned_grouped_equals_per_group(spark, rows, bin_width):
    """The grouped form (group_cols) must equal running binary_auc on
    each group's rows independently — including one-class groups (NULL
    auc) and single-row groups. This is the contract
    llm_classifier_auc_by_lang ships on."""
    from streamline_hybrid_engine_spark import binary_auc, binary_auc_binned

    df = spark.createDataFrame(rows, "g string, s long, y int")
    got = {
        r["g"]: (r["n_pos"], r["n_neg"], r["auc"])
        for r in binary_auc_binned(
            df, "s", "y", bin_width=bin_width, group_cols=("g",)
        ).collect()
    }
    groups = sorted({g for g, _, _ in rows})
    assert set(got) == set(groups)
    for g in groups:
        sub = spark.createDataFrame(
            [(s, y) for gg, s, y in rows if gg == g], "s long, y int"
        )
        w = binary_auc(sub, "s", "y").collect()[0]
        assert got[g] == (w["n_pos"], w["n_neg"], w["auc"]), g


@settings(max_examples=10 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),             # group
            st.integers(-20, 20),                      # value
            st.integers(0, 9),                         # tiebreak seed
        ),
        min_size=1,
        max_size=50,
    ),
    width=st.sampled_from([1, 4, 16, 1000]),
    descending=st.booleans(),
)
def test_binned_rank_fuzz_equals_global_window(spark, rows, width, descending):
    """The shared binned_rank primitive (r11) vs the global window it
    replaces, over random grouped data with ties AT bin boundaries
    (values are multiples of small widths often enough that hypothesis
    lands exact-boundary ties), ascending and descending orders,
    width 1 (offsets do everything) through one-bin (window does
    everything). Both rank methods and the peer count must match; this
    is the contract agg_rfm_segments_binned / ts_conversion_latency_binned
    ship on."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from streamline_hybrid_engine_spark import binned_rank

    data = [(g, v, i) for i, (g, v, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, v long, tb long")
    if descending:
        # descending order needs an ascending bin: negate the bucket
        df = df.withColumn("bin", -F.expr(f"v div {width}"))
        order = [F.col("v").desc(), F.col("tb")]
        w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("tb"))
        wp = Window.partitionBy("g", "v")
    else:
        df = df.withColumn("bin", F.expr(f"v div {width}"))
        order = [F.col("v"), F.col("tb")]
        w = Window.partitionBy("g").orderBy("v", "tb")
        wp = Window.partitionBy("g", "v")
    key = lambda r: (r["g"], r["v"], r["tb"])  # noqa: E731
    for method, fn in (("row_number", F.row_number), ("rank", F.rank)):
        got = binned_rank(
            df, "bin", order, group_cols=("g",),
            rank_col="r", total_col="n", method=method,
        )
        exp = df.select(
            "g", "v", "tb",
            fn().over(w).cast("long").alias("r"),
            F.count("*").over(Window.partitionBy("g")).cast("long").alias("n"),
        )
        assert (
            sorted(got.select("g", "v", "tb", "r", "n").collect(), key=key)
            == sorted(exp.collect(), key=key)
        ), (method, width, descending)
    # peers (the Mann–Whitney tiecount) needs a SINGLE order column per
    # the contract; pair it with method="rank" so ties stay deterministic
    got_p = binned_rank(
        df, "bin", [order[0]], group_cols=("g",),
        rank_col="r", method="rank", peers_col="p",
    )
    w1 = Window.partitionBy("g").orderBy(order[0])
    exp_p = df.select(
        "g", "v", "tb",
        F.rank().over(w1).cast("long").alias("r"),
        F.count("*").over(wp).cast("long").alias("p"),
    )
    assert (
        sorted(got_p.select("g", "v", "tb", "r", "p").collect(), key=key)
        == sorted(exp_p.collect(), key=key)
    ), (width, descending)


@settings(max_examples=10 * _FUZZ, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    dim=st.sampled_from([3, 5, 8]),
    n_vecs=st.integers(5, 40),
)
def test_pca_power_component_tracks_numpy_eigh(seed, dim, n_vecs):
    """The exact-integer power iteration behind llm_embedding_pca_project
    vs numpy's eigh on random PSD integer gram matrices: the first
    component must align with the dominant eigenvector (|cos| > 0.99
    when the spectral gap is honest), stay ∞-normalized to exactly
    ±PCA_SCALE, and the deflated second component must be near-orthogonal
    to the first. Also pins _tdiv's truncate-toward-zero convention
    (Python // floors — the one-character bug this mirror exists to
    catch)."""
    import numpy as np

    from streamline_hybrid_engine_spark.llm.similarity import (
        PCA_SCALE,
        _tdiv,
        pca_power_component,
    )

    assert _tdiv(-7, 2) == -3 and _tdiv(7, 2) == 3  # trunc, not floor

    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n_vecs, dim))
    gram = [
        [int(np.floor(np.dot(x[:, i], x[:, j]) * 1e6)) for j in range(dim)]
        for i in range(dim)
    ]
    # symmetrize exactly the way the id does (mirror one triangle)
    for i in range(dim):
        for j in range(i + 1, dim):
            gram[j][i] = gram[i][j]
    w1 = pca_power_component(gram, [PCA_SCALE] * dim, t_iters=30)
    assert max(abs(v) for v in w1) == PCA_SCALE
    evals, evecs = np.linalg.eigh(np.array(gram, dtype=float))
    top = evecs[:, -1]
    c = abs(float(np.dot(w1, top))) / (
        float(np.linalg.norm(w1)) * float(np.linalg.norm(top))
    )
    # demand tight alignment only when power iteration can actually
    # deliver it in 30 rounds: the residual off-axis mixing obeys the
    # textbook bound sin θ_t ≤ (λ2/λ1)^t · tan θ_0, so gate on THAT —
    # BOTH terms. The r11 deep-fuzz catches: a 1.067× gap passed a raw
    # 1.05× gap gate with (λ2/λ1)^30 ≈ 0.14 (cos 0.65, legitimate), and
    # a decay-only gate then fell to a near-orthogonal start (tan θ_0
    # large: decay 0.0036 × tan θ_0 ≈ 0.21 → cos 0.977, also legitimate)
    lam1, lam2 = float(evals[-1]), abs(float(evals[-2]))
    if lam1 > 0:
        v0u = np.ones(dim) / np.sqrt(dim)
        c0 = abs(float(v0u @ top))
        if c0 > 1e-6:
            tan0 = float(np.sqrt(max(1.0 - c0 * c0, 0.0))) / c0
            residual = (lam2 / lam1) ** 30 * tan0
            if residual < 0.05:
                assert c > 0.99, (c, residual, evals)
    # always-on progress check: components with λi ≪ λ1 decay by
    # (λi/λ1)^30, so any surviving mixture sits high in the spectrum —
    # demand the Rayleigh quotient clear λ2/2 (loose on purpose: this
    # catches sign/matrix bugs, never spectrum shapes)
    if lam1 > 0:
        wv = np.array(w1, dtype=float)
        rayleigh = float(wv @ np.array(gram, dtype=float) @ wv) / float(
            wv @ wv
        )
        assert rayleigh >= 0.5 * lam2, (rayleigh, evals)
    w2 = pca_power_component(
        gram,
        [PCA_SCALE if i % 2 == 0 else -PCA_SCALE for i in range(dim)],
        t_iters=30,
        orth=w1,
    )
    dot12 = abs(float(np.dot(w1, w2)))
    n1, n2 = float(np.linalg.norm(w1)), float(np.linalg.norm(w2))
    assert dot12 / (n1 * n2) < 0.05, (w1, w2)


def _py_bpe_train(words: dict, n_merges: int) -> list:
    """Independent reference BPE trainer: dict segmentations, explicit
    greedy left-to-right merge application, argmax with the engine's
    tie-break (count desc, then lexicographic pair)."""
    segs = {w: list(w) for w in words}
    merges = []
    for step in range(1, n_merges + 1):
        cnt: dict = {}
        for w, f in words.items():
            s = segs[w]
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] = cnt.get((s[i], s[i + 1]), 0) + f
        if not cnt:
            break
        (x, y), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, x, y, c))
        for w, s in segs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    return merges


@settings(max_examples=5 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    entries=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=6),
            st.integers(1, 5),
        ),
        min_size=1,
        max_size=15,
    ),
)
def test_bpe_train_merges_matches_python_trainer(spark, entries):
    """The N-merge trainer must equal an independent pure-Python BPE at
    toy scale. The 2-letter alphabet makes repeated-letter words ('aaa',
    'abab') common — the inputs where the bracket-encoding replace()
    could diverge from greedy left-to-right non-overlapping application
    (the shared-middle 'aaa' case) — and forces heavy count ties, so the
    (count desc, lhs, rhs) tie-break is exercised every round. When the
    pair supply dries up early, both sides must stop emitting merge rows
    at the same step."""
    from streamline_hybrid_engine_spark.llm.text import bpe_train_merges

    words: dict = {}
    for w, f in entries:
        words[w] = words.get(w, 0) + f
    expected = _py_bpe_train(words, 3)
    df = spark.createDataFrame(
        list(words.items()), "tok string, freq long"
    )
    got = sorted(
        (r["step"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train_merges(df, 3).collect()
    )
    assert got == expected


@settings(max_examples=5 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    entries=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=6),
            st.integers(1, 5),
        ),
        min_size=1,
        max_size=15,
    ),
)
def test_bpe_replay_equals_trainer_state(spark, entries):
    """merges.txt portability (the llm_bpe_apply_merges contract):
    replaying the collected merge table over the TRAINING vocab's initial
    encodings must reproduce the trainer's internal final segmentation
    state bit-for-bit — on the same adversarial 2-letter corpus that
    stresses shared-middle overlaps and tie-breaks. Requires every merge
    round to have fired (an early-dry corpus empties the trainer's word
    table by design, which the replay deliberately does not mimic)."""
    from streamline_hybrid_engine_spark.llm.text import (
        bpe_apply_merges,
        bpe_train_and_segment,
    )

    words: dict = {}
    for w, f in entries:
        words[w] = words.get(w, 0) + f
    df = spark.createDataFrame(list(words.items()), "tok string, freq long")
    merges_df, state = bpe_train_and_segment(df, 3)
    merges = [r.asDict() for r in merges_df.orderBy("step").collect()]
    if len(merges) < 3:
        return  # pair supply dried up: trainer state is empty by contract
    replay = bpe_apply_merges(df.select("tok"), merges)
    got = sorted((r["tok"], r["enc"]) for r in replay.collect())
    want = sorted((r["tok"], r["enc"]) for r in state.collect())
    assert got == want


@settings(max_examples=15 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    sizes=st.lists(st.integers(0, 50), min_size=1, max_size=12),
    budget=st.integers(0, 400),
)
def test_waterfill_matches_level_simulation(spark, sizes, budget):
    """The closed-form waterfill must equal the independent definition:
    the maximal integer water level λ with Σ min(nᵢ, λ) ≤ B, remainder
    unit-distributed to capped keys in (n, key) order — and must hit the
    budget boundary exactly: Σ allocation == min(B, Σn), allocation ≤ n,
    capped ⇔ allocation < n ∨ level-capped."""
    from streamline_hybrid_engine_spark import waterfill

    items = [(f"k{i:02d}", n) for i, n in enumerate(sizes)]
    total = sum(sizes)
    expected = {}
    if total <= budget:
        expected = {k: n for k, n in items}
    else:
        lam = 0
        while sum(min(n, lam + 1) for _, n in items) <= budget:
            lam += 1
        spent = sum(min(n, lam) for _, n in items)
        extra = budget - spent
        for k, n in sorted(items, key=lambda kv: (kv[1], kv[0])):
            if n <= lam:
                expected[k] = n
            else:
                expected[k] = lam + (1 if extra > 0 else 0)
                extra -= 1 if extra > 0 else 0

    df = spark.createDataFrame(items, "source string, n long")
    bdf = spark.createDataFrame([(budget,)], "b long")
    out = waterfill(df, "n", "source", bdf).collect()
    got = {r["source"]: r["allocation"] for r in out}
    assert got == expected
    assert sum(got.values()) == min(budget, total)
    assert all(r["allocation"] <= r["n"] for r in out)


@settings(max_examples=3 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=8)
        .map(" ".join),
        min_size=2,
        max_size=6,
    )
)
def test_rouge_n_clipped_overlap_matches_counter(spark, texts, tmp_path_factory):
    """llm_rouge_n_pairs' clipped-multiset overlap — driven through the
    REAL registry query on a synthetic documents fixture — must equal the
    Counter-based definition Σ_g min(count_ref(g), count_cand(g)) on
    adjacent-id pairs (tiny alphabet → repeated bigrams, the case the
    clipping exists for)."""
    import collections

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.registry import get_query

    tmp = tmp_path_factory.mktemp("rougefix")
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["fuzz"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(tmp / "documents.parquet"),
    )

    def grams(t):
        toks = t.split(" ")
        return collections.Counter(
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        )

    expected = {}
    for rid in range(len(texts) - 1):
        gr, gc = grams(texts[rid]), grams(texts[rid + 1])
        ov = sum(min(c, gc[g]) for g, c in gr.items())
        nr, nc = sum(gr.values()), sum(gc.values())
        # zero-overlap pairs emit NO row in both engines (inner
        # gram-keyed join) — matching absence is part of the contract
        if nr and nc and ov > 0:
            expected[rid] = (
                ov,
                round(ov / nr, 6),
                round(ov / nc, 6),
            )

    rowmap = {
        r["ref_id"]: (
            r["overlap"],
            r["rouge2_recall"],
            r["rouge2_precision"],
        )
        for r in get_query("llm_rouge_n_pairs").fn(spark, str(tmp)).collect()
    }
    got = {
        k: (v[0], pytest.approx(v[1], abs=1e-9), pytest.approx(v[2], abs=1e-9))
        for k, v in rowmap.items()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert expected[k][0] == rowmap[k][0]
        assert rowmap[k][1] == pytest.approx(expected[k][1], abs=1e-9)
        assert rowmap[k][2] == pytest.approx(expected[k][2], abs=1e-9)


@settings(max_examples=15 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=25,
    )
)
def test_skyline_grid_matches_bruteforce(spark, pts):
    """The exported grid-partitioned skyline must equal the O(n²)
    dominance definition on arbitrary points — including the cell
    fenceposts the oracle pairing exists to catch (duplicate points,
    all-equal x, single cell)."""
    from streamline_hybrid_engine_spark import skyline_grid

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    expected = {
        i
        for i, x, y in rows
        if not any(
            (x2 < x and y2 >= y) or (x2 <= x and y2 > y)
            for _, x2, y2 in rows
        )
        # per-price max: among equal (x), only max y survives; exact ties
        # on (x, y) all survive — mirror agg_skyline_2d's RANGE semantics
    }
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r["id"] for r in skyline_grid(df, "x", "y", n_cells=4).collect()}
    assert got == expected


@settings(max_examples=3 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=10)
        .map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_kn_bigram_lm_matches_rational_reference(spark, texts, tmp_path_factory):
    """llm_ngram_lm_kn driven through the REAL registry query on a
    synthetic fixture must equal the pure-Python exact-rational KN
    (d = 3/4): p_micro = ((4c−3)N + 3·N1v·N1w)·10⁶ // (4·c_v·N), summed
    per doc. Tiny alphabet → heavy count collisions, the discount's
    busiest regime; the Python // is the floor both engines must hit."""
    import collections

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.registry import get_query

    big = collections.Counter()
    for t in texts:
        toks = t.split(" ") if t else [""]
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
    expected = {}
    if big:
        cv, n1v, n1w = (
            collections.Counter(),
            collections.Counter(),
            collections.Counter(),
        )
        for (a, b), c in big.items():
            cv[a] += c
            n1v[a] += 1
            n1w[b] += 1
        nt = len(big)

        def p_micro(a, b):
            c = big[(a, b)]
            return ((4 * c - 3) * nt + 3 * n1v[a] * n1w[b]) * 1_000_000 // (
                4 * cv[a] * nt
            )

        for i, t in enumerate(texts):
            toks = t.split(" ") if t else [""]
            pairs = list(zip(toks, toks[1:]))
            if pairs:
                s = sum(p_micro(a, b) for a, b in pairs)
                expected[i] = (len(pairs), s, s // len(pairs))

    tmp = tmp_path_factory.mktemp("knfix")
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["fuzz"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(tmp / "documents.parquet"),
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_p_micro"], r["mean_p_micro"])
        for r in get_query("llm_ngram_lm_kn").fn(spark, str(tmp)).collect()
    }
    assert got == expected


@settings(max_examples=10 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=2,
        max_size=20,
    ),
    k=st.integers(1, 3),
    cell=st.sampled_from([1, 7, 1000]),
)
def test_grid_knn_matches_bruteforce(spark, pts, k, cell):
    """grid_knn_join must equal the O(n²) exact k-NN definition —
    duplicate points, coincident points (d2=0), and id tie-breaks
    included, through the full-window re-scan with the r8
    resolution-preserving prune. The generator hits its danger zones:
    candidates at d > ρ·cell inside an already-scanned cell and isolated
    points with zero candidates at ring 1 (must stay pending). ``cell``
    sweeps the degenerate grids (r8 verdict task 7): 1000 puts every
    point in ONE cell (ring 1 is already covering), 1 puts ~one point
    per cell (maximal escalation); the final ring is sized to stay
    covering at every cell choice (the caller contract)."""
    from streamline_hybrid_engine_spark import grid_knn_join

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    expected = {}
    for i, x, y in rows:
        cand = sorted(
            ((x - x2) ** 2 + (y - y2) ** 2, j)
            for j, x2, y2 in rows
            if j != i
        )
        for rank, (d2, j) in enumerate(cand[:k], 1):
            expected[(i, rank)] = (j, d2)

    df = spark.createDataFrame(rows, "id long, x long, y long")
    covering = 31 // cell + 2  # grid span at this cell size, plus slack
    out = grid_knn_join(
        df, "id", "x", "y", cell=cell, k=k, rings=(1, 2, covering)
    )
    got = {
        (r["id"], r["nn_rank"]): (r["nn_id"], r["d2"]) for r in out.collect()
    }
    assert got == expected


# --- r9 templates: substring dedup / KN followers (verdict tasks 5-7) --------


@settings(max_examples=8 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.data(),
    n_docs=st.integers(2, 5),
)
def test_dedup_substring_matches_bruteforce(spark, data, n_docs,
                                            tmp_path_factory):
    """llm_dedup_substring — driven through the REAL registry query on a
    synthetic documents fixture — must equal the brute-force span
    finder: count every 8-token anchor gram, mark positions whose gram
    repeats (>= 2 anywhere, same-doc included), merge consecutive
    positions into maximal islands, keep spans >= 12 tokens, flag the
    first occurrence per identical span text. Docs share injected
    phrases (the signal) over a 3-token alphabet (natural 8-gram
    collisions stay rare, so the phrase machinery is what's tested);
    edges: docs shorter than the anchor, spans exactly at the 12-token
    floor, islands separated by a 2-gap (must NOT merge)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.llm.dedup import (
        SPAN_ANCHOR,
        SPAN_MIN_TOKENS,
    )
    from streamline_hybrid_engine_spark.registry import get_query

    alphabet = ["aa", "bb", "cc"]
    phrase_len = data.draw(st.integers(SPAN_MIN_TOKENS, SPAN_MIN_TOKENS + 4))
    phrase = [
        data.draw(st.sampled_from(alphabet), label=f"ph{i}")
        for i in range(phrase_len)
    ]
    docs = {}
    for d in range(n_docs):
        pre = data.draw(
            st.lists(st.sampled_from(alphabet), max_size=6), label=f"pre{d}"
        )
        post = data.draw(
            st.lists(st.sampled_from(alphabet), max_size=6), label=f"post{d}"
        )
        use_phrase = data.draw(st.booleans(), label=f"use{d}")
        docs[d] = pre + (phrase if use_phrase else []) + post

    A, MIN = SPAN_ANCHOR, SPAN_MIN_TOKENS
    from collections import Counter

    gram_counts = Counter()
    for t in docs.values():
        for p in range(len(t) - A + 1):
            gram_counts[" ".join(t[p : p + A])] += 1
    spans = []
    for d, t in docs.items():
        ps = [
            p
            for p in range(len(t) - A + 1)
            if gram_counts[" ".join(t[p : p + A])] >= 2
        ]
        runs = []
        for p in ps:
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for s, e in runs:
            et = e + A - 1
            n = et - s + 1
            if n >= MIN:
                spans.append((d, s, et, n, " ".join(t[s : et + 1])))
    expected, first = {}, set()
    for d, s, e, n, txt in sorted(spans):
        h = hashlib.md5(txt.encode()).hexdigest()
        keep = h not in first
        first.add(h)
        expected[(d, s)] = (e, n, h, keep)

    tmp = tmp_path_factory.mktemp("substrfix")
    texts = [" ".join(docs[d]) for d in sorted(docs)]
    pq.write_table(
        pa.table(
            {
                "doc_id": sorted(docs),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["fuzz"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(tmp / "documents.parquet"),
    )
    got = {
        (r["doc_id"], r["start_tok"]): (
            r["end_tok"],
            r["n_tokens"],
            r["span_md5"],
            r["keep"],
        )
        for r in get_query("llm_dedup_substring").fn(spark, str(tmp)).collect()
    }
    assert got == expected


def _kn_shape_texts(data, shape: str) -> list:
    alphabet = ["a", "b", "c", "d"]
    if shape == "singleton":
        # every bigram unique: c(vw)=1 everywhere — the (4c−3)=1 discount
        # boundary the r8 verdict names
        n = data.draw(st.integers(1, 6), label="n_singleton")
        return [f"s{2 * i} s{2 * i + 1}" for i in range(n)]
    if shape == "dominant":
        # one context follows everything: cv huge, N1+(v·) = vocab
        n = data.draw(st.integers(2, 8), label="n_dominant")
        return [" ".join(f"v w{i}" for i in range(n))]
    return [
        " ".join(
            data.draw(
                st.lists(st.sampled_from(alphabet), min_size=0, max_size=10),
                label=f"doc{i}",
            )
        )
        for i in range(data.draw(st.integers(1, 6), label="n_rand"))
    ]


@settings(max_examples=5 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.data(),
    shape=st.sampled_from(["singleton", "dominant", "random"]),
)
def test_kn_probabilities_sum_to_one_prefloor(spark, data, shape,
                                              tmp_path_factory):
    """The KN estimator's defining identity, Σ_w p(w|v) = 1 over the
    FULL vocabulary (observed bigrams get (c−d)/cv + the continuation
    term, unobserved get the continuation term alone), must hold as an
    EXACT pre-floor rational at the adversarial count shapes the r8
    verdict names: all-singleton corpora (c(vw)=1, the discount
    boundary where 4c−3 bottoms out) and a dominant context (cv and
    N1+(v·) maximal). The engine is then driven through the REAL query
    on the same fixture and must floor exactly those rationals."""
    import collections
    from fractions import Fraction

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.registry import get_query

    texts = _kn_shape_texts(data, shape)
    big = collections.Counter()
    for t in texts:
        toks = t.split(" ") if t else [""]
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
    if not big:
        return
    cv, n1v, n1w = (
        collections.Counter(),
        collections.Counter(),
        collections.Counter(),
    )
    for (a, b), c in big.items():
        cv[a] += c
        n1v[a] += 1
        n1w[b] += 1
    nt = len(big)

    # pre-floor identity, exact rationals, over the FULL vocab per context
    for v in cv:
        total = Fraction(0)
        for w, nw in n1w.items():
            cont = Fraction(3 * n1v[v] * nw, 4 * cv[v] * nt)
            if (v, w) in big:
                total += Fraction(4 * big[(v, w)] - 3, 4 * cv[v]) + cont
            else:
                total += cont
        assert total == 1, f"Σ_w p(w|{v}) = {total} != 1 ({shape})"

    # engine agreement at the same adversarial shape
    def p_micro(a, b):
        c = big[(a, b)]
        return ((4 * c - 3) * nt + 3 * n1v[a] * n1w[b]) * 1_000_000 // (
            4 * cv[a] * nt
        )

    expected = {}
    for i, t in enumerate(texts):
        toks = t.split(" ") if t else [""]
        pairs = list(zip(toks, toks[1:]))
        if pairs:
            s = sum(p_micro(a, b) for a, b in pairs)
            expected[i] = (len(pairs), s, s // len(pairs))

    tmp = tmp_path_factory.mktemp("knshape")
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["fuzz"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(tmp / "documents.parquet"),
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_p_micro"], r["mean_p_micro"])
        for r in get_query("llm_ngram_lm_kn").fn(spark, str(tmp)).collect()
    }
    assert got == expected


@settings(max_examples=5 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n_users=st.sampled_from([1, 2, 3, 90, 100, 110, 300]),
    n_slides=st.integers(1, 3),
)
def test_hll_hop_bound_near_threshold(spark, n_users, n_slides,
                                      tmp_path_factory):
    """win_hop_distinct_hll's error contract (estimate within 5% of
    exact per hop window) at near-threshold cardinalities (r8 verdict
    task 7): tiny sets (1-3, where HLL is exact by sparse mode), the
    ~100 region (sparse→dense transition for small sketches), and a
    few hundred. Exact counts are re-derived in Python over the same
    slide→hop expansion; every hll_within_5pct must be TRUE."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.registry import get_query

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    for s in range(n_slides):
        for u in range(n_users):
            rows.append(
                (eid, base + dt.timedelta(minutes=15 * s, seconds=u % 60),
                 u, "view", 1.0, "{}")
            )
            eid += 1
    tmp = tmp_path_factory.mktemp("hllfix")
    pq.write_table(
        pa.table(
            {
                "event_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [r[4] for r in rows],
                "props": [r[5] for r in rows],
            }
        ),
        str(tmp / "events.parquet"),
    )

    expected = {}
    for _, ts, u, _, _, _ in rows:
        slide = ts.replace(minute=(ts.minute // 15) * 15, second=0,
                           microsecond=0)
        for kk in range(4):
            ws = slide - dt.timedelta(minutes=15 * kk)
            expected.setdefault(ws, set()).add(u)

    out = get_query("win_hop_distinct_hll").fn(spark, str(tmp)).collect()
    got = {r["ws"]: (r["n_users_exact"], r["hll_within_5pct"]) for r in out}
    assert set(got) == set(expected)
    for ws, users in expected.items():
        n_exact, within = got[ws]
        assert n_exact == len(users)
        assert within is True, f"HLL off by >5% at cardinality {len(users)}"


@settings(max_examples=5 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    cents_pool=st.lists(st.sampled_from([0, 100, 100, 100, 2500, 2500]),
                        min_size=10, max_size=40),
)
def test_decile_lift_binned_equals_single_sort(spark, cents_pool,
                                               tmp_path_factory):
    """agg_decile_lift_binned (exact global ntile via per-bin rank
    offsets, no global sort) must return EXACTLY what the single-sort
    agg_decile_lift returns — including at bin-boundary ties (r8
    verdict task 7): spend values drawn from a tiny pool so many
    customers share identical cents and whole runs of the ntile
    straddle bin boundaries, the case where an off-by-one in the bin
    offset arithmetic silently shifts a decile."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.registry import get_query

    base = __import__("datetime").datetime(2024, 1, 1)
    rows = {
        "o_orderkey": list(range(len(cents_pool))),
        "o_custkey": list(range(len(cents_pool))),  # one order per customer
        "o_orderstatus": ["F" if c % 200 else "O" for c in cents_pool],
        "o_totalprice": [c / 100.0 for c in cents_pool],
        "o_orderdate": [base] * len(cents_pool),
        "o_orderpriority": ["1-URGENT"] * len(cents_pool),
    }
    tmp = tmp_path_factory.mktemp("liftfix")
    pq.write_table(pa.table(rows), str(tmp / "orders.parquet"))

    canon = lambda df: sorted(
        tuple(r) for r in df.collect()
    )
    single = canon(get_query("agg_decile_lift").fn(spark, str(tmp)))
    binned = canon(get_query("agg_decile_lift_binned").fn(spark, str(tmp)))
    assert binned == single


# --- r9 wave-2 templates: BLEU pairs + held-out KN scoring --------------------


@settings(max_examples=3 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=8)
        .map(" ".join),
        min_size=2,
        max_size=6,
    )
)
def test_bleu_pairs_matches_counter(spark, texts, tmp_path_factory):
    """llm_bleu_pairs driven through the REAL registry query on a
    synthetic fixture must equal the Counter-based BLEU-2 definition:
    clipped modified precisions for n=1,2, geometric mean, exact
    floored-micro brevity ratio. Tiny alphabet → heavy clipping, and
    1-token candidates exercise the n2=0 guard. Unlike the ROUGE id
    (inner join), zero-overlap pairs MUST be retained with score 0."""
    import collections
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.registry import get_query

    def counts(t, n):
        toks = t.split(" ")
        if n == 1:
            return collections.Counter(toks), len(toks)
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return collections.Counter(grams), len(grams)

    expected = {}
    for rid in range(len(texts) - 1):
        c1r, n1r = counts(texts[rid], 1)
        c2r, _ = counts(texts[rid], 2)
        c1c, n1c = counts(texts[rid + 1], 1)
        c2c, n2c = counts(texts[rid + 1], 2)
        m1 = sum(min(c, c1c[g]) for g, c in c1r.items())
        m2 = sum(min(c, c2c[g]) for g, c in c2r.items())
        p1 = m1 / n1c
        p2 = (m2 / n2c) if n2c > 0 else 0.0
        expected[rid] = (
            m1,
            m2,
            n1r,
            n1c,
            round(p1, 6),
            round(p2, 6),
            round(math.sqrt(p1 * p2), 6),
            n1r * 1_000_000 // n1c,
        )

    tmp = tmp_path_factory.mktemp("bleufix")
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["fuzz"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(tmp / "documents.parquet"),
    )
    got = {
        r["ref_id"]: (
            r["m1"],
            r["m2"],
            r["ref_len"],
            r["cand_len"],
            r["p1"],
            r["p2"],
            r["bleu2_nobp"],
            r["brevity_ratio_micro"],
        )
        for r in get_query("llm_bleu_pairs").fn(spark, str(tmp)).collect()
    }
    assert set(got) == set(expected)
    for k, exp in expected.items():
        g = got[k]
        assert g[:4] == exp[:4] and g[7] == exp[7]
        for gi, ei in zip(g[4:7], exp[4:7]):
            assert gi == pytest.approx(ei, abs=1e-9)


@settings(max_examples=3 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                 min_size=1, max_size=8)
        .map(" ".join),
        min_size=4,
        max_size=12,
    )
)
def test_kn_heldout_matches_rational_reference(spark, texts,
                                               tmp_path_factory):
    """llm_kn_heldout_surprisal vs a pure-Python rational reference:
    the SAME md5-digit split (train < 13), KN tables built on train
    only, and the full per-bigram decision tree — hit (interpolated
    estimate), backoff (continuation-only term), oov (floor) — each an
    exact integer. The tiny alphabet forces all three branches; docs
    whose first-hex-digit lands ≥ 13 form the held-out pool (absent
    some draws — empty-result equality is part of the contract)."""
    import collections
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.registry import get_query

    def digit(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[0], 16)

    train = [t for i, t in enumerate(texts) if digit(i) < 13]
    held = {i: t for i, t in enumerate(texts) if digit(i) >= 13}

    big = collections.Counter()
    for t in train:
        toks = t.split(" ")
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
    cv, n1v, n1w = (
        collections.Counter(),
        collections.Counter(),
        collections.Counter(),
    )
    for (a, b), c in big.items():
        cv[a] += c
        n1v[a] += 1
        n1w[b] += 1
    nt = len(big)

    expected = {}
    for i, t in held.items():
        toks = t.split(" ")
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            continue
        n_hit = n_back = n_oov = s = 0
        for a, b in pairs:
            if (a, b) in big:
                n_hit += 1
                c = big[(a, b)]
                p = ((4 * c - 3) * nt + 3 * n1v[a] * n1w[b]) * 1_000_000 // (
                    4 * cv[a] * nt
                )
            elif a in cv and b in n1w:
                n_back += 1
                p = 3 * n1v[a] * n1w[b] * 1_000_000 // (4 * cv[a] * nt)
            else:
                n_oov += 1
                p = 0
            s += max(p, 1)
        expected[i] = (len(pairs), n_hit, n_back, n_oov, s, s // len(pairs))

    tmp = tmp_path_factory.mktemp("knhofix")
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["fuzz"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(tmp / "documents.parquet"),
    )
    got = {
        r["doc_id"]: (
            r["n_bigrams"],
            r["n_hit"],
            r["n_backoff"],
            r["n_oov"],
            r["sum_p_micro"],
            r["mean_p_micro"],
        )
        for r in get_query("llm_kn_heldout_surprisal")
        .fn(spark, str(tmp))
        .collect()
    }
    assert got == expected


def test_poisson_ladder_exact_threshold_boundaries(spark, duck_mem):
    """r10 boundary template: the Poisson(1) CASE ladder at EVERY exact
    48-bit threshold and one unit to either side, plus the domain ends
    (0 and 2^48−1), on BOTH engines. The ladder is strict-less-than —
    u == threshold k must already fall in weight k+1's band; an
    off-by-one here shifts ~4e-15 of the probability mass silently and
    no random fuzz would ever sample these exact integers."""
    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark.operators.aggregates import (
        _POIS1_T48,
        _pois_weight_sql,
    )

    us = sorted(
        {0, (1 << 48) - 1}
        | {t + d for t in _POIS1_T48 for d in (-1, 0, 1)}
    )

    def ref(u: int) -> int:
        for k, t in enumerate(_POIS1_T48):
            if u < t:
                return k
        return 7

    df = spark.createDataFrame([(u,) for u in us], "u long")
    got = {
        r["u"]: r["wt"]
        for r in df.select(
            "u", F.expr(_pois_weight_sql("u")).alias("wt")
        ).collect()
    }
    assert got == {u: ref(u) for u in us}
    values = ", ".join(f"({u})" for u in us)
    duck = dict(
        duck_mem.sql(
            f"SELECT u, {_pois_weight_sql('u')} AS wt"
            f" FROM (VALUES {values}) AS t(u)"
        ).fetchall()
    )
    assert duck == {u: ref(u) for u in us}


def test_bleu_brevity_and_precision_floors(spark, tmp_path_factory):
    """r10 boundary template: llm_bleu_pairs at the brevity-penalty
    boundary r == c (ratio exactly 1_000_000 micros — the point where
    BP = exp(1−max(1,r)) kicks in downstream) and one token to either
    side (floored micros: 3e6 div 4, 4e6 div 3), the single-token
    candidate (n2 = 0 → p2 defined as 0.0, not NULL), and a
    zero-overlap pair (BLEU 0 is a row, not a drop). Expected values
    from an independent clipped-Counter mirror."""
    import collections
    import math as _math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.registry import get_query

    texts = [
        "a b c",    # pair 0→1: r==c == 3, full overlap
        "c a b",    # pair 1→2: r=3, c=4
        "a a a a",  # pair 2→3: r=4, c=1 (single-token candidate, n2=0)
        "x",        # pair 3→4: r=1, c=2, ZERO overlap
        "y z",
    ]
    tmp = tmp_path_factory.mktemp("bleufix")
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["fuzz"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(tmp / "documents.parquet"),
    )

    def grams(t, n):
        toks = t.split(" ")
        return collections.Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )

    expected = {}
    for i in range(len(texts) - 1):
        ref, cand = texts[i], texts[i + 1]
        r, c = len(ref.split(" ")), len(cand.split(" "))
        m1 = sum((grams(ref, 1) & grams(cand, 1)).values())
        m2 = sum((grams(ref, 2) & grams(cand, 2)).values())
        n2 = max(c - 1, 0)
        p1 = m1 / c
        p2 = m2 / n2 if n2 > 0 else 0.0
        expected[i] = (
            m1, m2, r, c,
            round(p1, 6), round(p2, 6),
            round(_math.sqrt(p1 * p2), 6),
            r * 1_000_000 // c,
        )
    got = {
        row["ref_id"]: (
            row["m1"], row["m2"], row["ref_len"], row["cand_len"],
            row["p1"], row["p2"], row["bleu2_nobp"],
            row["brevity_ratio_micro"],
        )
        for row in get_query("llm_bleu_pairs").fn(spark, str(tmp)).collect()
    }
    assert got == expected
    assert got[0][7] == 1_000_000  # r == c: exactly the BP boundary
    assert got[1][7] == 750_000    # r < c: floored micros
    assert got[2][7] == 4_000_000  # r > c
    assert got[3] == (0, 0, 1, 2, 0.0, 0.0, 0.0, 500_000)  # zero overlap


def test_bootstrap_ci_matches_hashlib_reference(spark, sf_dir):
    """agg_bootstrap_ci vs a from-scratch Python reference at sf0.001:
    the same salted-md5 48-bit uniforms, the same integer Poisson(1)
    thresholds, the same exact-micro resample means and rank-5/196
    order statistics — certifying that the 'no rand(), no runtime
    exp()' determinism claim holds all the way to the CI bounds."""
    import hashlib

    from streamline_hybrid_engine_spark.catalog import load_table
    from streamline_hybrid_engine_spark.operators.aggregates import (
        BOOT_B,
        _POIS1_T48,
    )
    from streamline_hybrid_engine_spark.registry import get_query

    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice", "o_orderkey")
        .collect()
    )

    def seeds(key):
        sa = int(hashlib.md5(f"bootA|{key}".encode()).hexdigest()[:12], 16)
        sc = int(hashlib.md5(f"bootC|{key}".encode()).hexdigest()[:12], 16) | 1
        return sa, sc

    def weight(b, key):
        sa, sc = seeds(key)
        u = (sa + b * sc) % (1 << 48)
        for k, t in enumerate(_POIS1_T48):
            if u < t:
                return k
        return 7

    by_grp = {}
    for r in rows:
        by_grp.setdefault(r["o_orderpriority"], []).append(
            (round(r["o_totalprice"] * 100), r["o_orderkey"])
        )
    expected = {}
    for grp, items in by_grp.items():
        n = len(items)
        mean_micro = sum(c for c, _ in items) * 1_000_000 // n
        means = []
        for b in range(BOOT_B):
            sw = swx = 0
            for cents, key in items:
                w = weight(b, key)
                sw += w
                swx += w * cents
            means.append((swx * 1_000_000 // max(sw, 1), b))
        means.sort()
        expected[grp] = (
            n,
            mean_micro,
            means[4][0],    # rank 5
            means[195][0],  # rank 196
        )

    got = {
        r["grp"]: (
            r["n_rows"],
            r["mean_micro"],
            r["boot_lo_micro"],
            r["boot_hi_micro"],
        )
        for r in get_query("agg_bootstrap_ci").fn(spark, sf_dir).collect()
    }
    assert got == expected
    for n, mean, lo, hi in got.values():
        assert lo <= mean <= hi


@settings(max_examples=10 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),   # group
            st.integers(-50, 50),            # value (signed: floor-bin path)
            st.integers(0, 9),               # weight (0 allowed)
        ),
        min_size=1,
        max_size=50,
    ),
    width=st.sampled_from([1, 7, 16, 10000]),
)
def test_weighted_median_binned_fuzz_equals_plain(spark, rows, width):
    """weighted_median_binned (r12 valve) vs the single-sort plain form
    over random grouped data with ties, zero weights, negative values
    (exercising the floor-division bin monotonicity), and widths from 1
    (offsets do everything) to one-bin (the in-bin sort does
    everything). The crossing value and total weight must be identical
    at every width — the contract win_weighted_median_binned ships on."""
    from streamline_hybrid_engine_spark.operators.windows import (
        weighted_median,
        weighted_median_binned,
    )

    df = spark.createDataFrame(rows, "g string, v long, wt long")
    exp = sorted(map(tuple, weighted_median(df, ["g"], "v", "wt").collect()))
    got = sorted(
        map(
            tuple,
            weighted_median_binned(df, ["g"], "v", "wt", width).collect(),
        )
    )
    assert got == exp, width


def _py_bpe_symbols(w: str) -> list:
    """Symbol split under the widened r12 contract: a <x..> byte-fallback
    bucket is ONE symbol; every other char is its own symbol."""
    import re

    return re.findall(r"<x[0-9a-f]+>|.", w)


@settings(max_examples=5 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    entries=st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["a", "b", "7", "<x2e>", "<xc3a9>"]),
                min_size=1,
                max_size=5,
            ),
            st.integers(1, 5),
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_bpe_trainer_fuzz_mixed_symbols(spark, entries):
    """The r12 mixed-content case (r11-verdict task 7): words built from
    letters, digits, AND byte-fallback buckets (<x2e> '.', <xc3a9> 'é')
    must train and replay identically to a symbol-aware pure-Python BPE —
    fallback buckets are single symbols (never split), merges can span a
    letter and a bucket, and the bracket replace() machinery stays exact
    with multi-char symbols in play."""
    from streamline_hybrid_engine_spark.llm.text import (
        bpe_apply_merges,
        bpe_train_and_segment,
    )

    words: dict = {}
    for syms, f in entries:
        w = "".join(syms)
        words[w] = words.get(w, 0) + f
    # python reference over SYMBOL lists, engine tie-break
    segs = {w: _py_bpe_symbols(w) for w in words}
    expected = []
    for step in range(1, 4):
        cnt: dict = {}
        for w, f in words.items():
            s = segs[w]
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] = cnt.get((s[i], s[i + 1]), 0) + f
        if not cnt:
            break
        (x, y), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((step, x, y, c))
        for w, s in segs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    df = spark.createDataFrame(list(words.items()), "tok string, freq long")
    merges_df, state = bpe_train_and_segment(df, 3)
    got = sorted(
        (r["step"], r["lhs"], r["rhs"], r["pair_count"])
        for r in merges_df.collect()
    )
    assert got == expected
    # replay portability holds on mixed symbols too (when all rounds fired)
    merges = [r.asDict() for r in merges_df.orderBy("step").collect()]
    if len(merges) == 3:
        replay = bpe_apply_merges(df.select("tok"), merges)
        got_enc = sorted((r["tok"], r["enc"]) for r in replay.collect())
        want_enc = sorted((r["tok"], r["enc"]) for r in state.collect())
        assert got_enc == want_enc


def test_bpe_pretokenizer_matches_duckdb_twin(spark):
    """The widened pre-tokenizer (case fold, class split, byte-fallback
    buckets) produces the IDENTICAL token multiset in Spark and DuckDB on
    mixed-content text — uppercase, digits, punctuation (including
    brackets, the encoding's reserved chars), and multi-byte UTF-8."""
    import duckdb

    from streamline_hybrid_engine_spark.llm.text import (
        _bpe_pretok_duck,
        bpe_pretokenize,
    )

    texts = [
        "Hello, WORLD! abc123 (x) [y] #tag",
        "café déjà-vu 3.14 £9 emoji:🙂",
        "MiXeD42case  double  space\ttab",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = sorted(r["tok"] for r in bpe_pretokenize(df).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE docs AS SELECT unnest(?) AS text", [texts])
    want = sorted(
        r[0] for r in con.execute(_bpe_pretok_duck("docs")).fetchall()
    )
    assert got == want
    # reserved chars never survive into tokens; folding is total
    assert all("(" not in t and ")" not in t for t in got)
    assert all(t == t.lower() for t in got)


@settings(max_examples=5 * _FUZZ, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n_users=st.sampled_from([1, 2, 3, 90, 100, 110, 300]),
    n_days=st.integers(1, 3),
)
def test_hll_rolling_mau_bound_near_threshold(spark, n_users, n_days,
                                              tmp_path_factory):
    """ts_rolling_mau_hll's error contract (28-sketch union within 5% of
    the exact trailing distinct per report day) at near-threshold
    cardinalities — the same sparse→dense transition sweep the hop-HLL
    valve carries (r8 task 7 pattern): tiny sets, the ~100 region, a few
    hundred. Exact trailing counts are re-derived in Python over the
    same day→report-day expansion; every verdict must be TRUE and every
    anchor must equal the Python recount."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamline_hybrid_engine_spark.registry import get_query

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    for d in range(n_days):
        for u in range(n_users):
            # day d sees users [d*7 .. d*7+n_users): overlapping but
            # shifting membership, so trailing unions exceed single days
            rows.append(
                (eid, base + dt.timedelta(days=d, minutes=u % 60),
                 d * 7 + u, "view", 1.0, "{}")
            )
            eid += 1
    tmp = tmp_path_factory.mktemp("maufix")
    pq.write_table(
        pa.table(
            {
                "event_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [r[4] for r in rows],
                "props": [r[5] for r in rows],
            }
        ),
        str(tmp / "events.parquet"),
    )

    day_users: dict = {}
    for _, ts, u, _, _, _ in rows:
        day_users.setdefault(ts.date(), set()).add(u)
    expected = {}
    for d in day_users:
        trail = set()
        for k in range(28):
            trail |= day_users.get(d - dt.timedelta(days=k), set())
        expected[d] = len(trail)

    out = get_query("ts_rolling_mau_hll").fn(spark, str(tmp)).collect()
    got = {
        r["report_day"].date(): (r["mau28_exact"], r["hll_within_5pct"])
        for r in out
    }
    assert set(got) == set(expected)
    for d, n in expected.items():
        n_exact, within = got[d]
        assert n_exact == n, d
        assert within is True, f"HLL off by >5% at cardinality {n}"
