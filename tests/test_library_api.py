"""The library-facing API: top-level primitives composable on ANY
DataFrame, without reading operator modules (VERDICT r5 #9). Each test
builds a toy frame from scratch — no fixture coupling — so these double
as usage examples for the README."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_top_level_imports_are_lazy_and_complete():
    import streamline_hybrid_engine_spark as she

    for name in she.__all__:
        assert getattr(she, name) is not None


def test_sessionize_on_toy_frame(spark):
    from streamline_hybrid_engine_spark import sessionize

    df = spark.createDataFrame(
        [(1, _ts(0)), (1, _ts(10)), (1, _ts(50)), (2, _ts(5))],
        "user_id long, ts timestamp",
    )
    out = {
        (r["user_id"], r["session_start"].minute): r["n_events"]
        for r in sessionize(df, "ts", ["user_id"], "30 minutes").collect()
    }
    # user 1: events at :00/:10 share a session, :50 starts a new one
    assert out == {(1, 0): 2, (1, 50): 1, (2, 5): 1}


def test_cdc_apply_on_toy_log(spark):
    from streamline_hybrid_engine_spark import cdc_apply

    log = spark.createDataFrame(
        [
            (1, 1, "U", 10),
            (1, 2, "U", 20),  # winner for key 1
            (2, 1, "U", 5),
            (2, 3, "D", 0),  # key 2 deleted last — vanishes
            (3, 7, "U", 9),
        ],
        "k long, seq long, op string, v long",
    )
    snap = {
        r["k"]: r["v"]
        for r in cdc_apply(log, keys=["k"], seq=["seq"]).collect()
    }
    assert snap == {1: 20, 3: 9}


def test_minhash_dedup_on_toy_corpus(spark):
    from streamline_hybrid_engine_spark import minhash_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tail"),  # near-dup of 1 (shares almost all shingles)
            (3, "completely different text about spark engines at scale"),
            (4, "xy"),  # <3 tokens: no shingles, singleton by definition
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in minhash_dedup(docs).collect()}
    assert out[1] == 1 and out[2] == 1  # clustered, min-id representative
    assert out[3] == 3 and out[4] == 4  # singletons
    survivors = {d for d, c in out.items() if d == c}
    assert survivors == {1, 3, 4}


def test_salted_join_equals_plain_join(spark):
    from streamline_hybrid_engine_spark import salted_join

    big = spark.createDataFrame(
        [(k, i) for i in range(50) for k in (1, 1, 2)], "k long, payload long"
    )
    small = spark.createDataFrame([(1, "a"), (2, "b")], "sk long, tag string")
    plain = big.join(small, big.k == small.sk).select("k", "payload", "tag")
    salted = salted_join(big, small, "k", "sk", n_salts=4).select(
        "k", "payload", "tag"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_match_recognize_on_toy_events(spark):
    from streamline_hybrid_engine_spark import match_recognize

    ev = spark.createDataFrame(
        [
            (10, _ts(0), 1, "view"),
            (11, _ts(1), 1, "click"),
            (12, _ts(2), 1, "view"),  # relaxed contiguity: skipped
            (13, _ts(3), 1, "purchase"),
            (14, _ts(4), 2, "click"),  # no view first: never matches
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    text = (
        "MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts "
        "PATTERN (V C P) WITHIN INTERVAL '1' HOUR "
        "DEFINE V AS event_type = 'view', C AS event_type = 'click', "
        "P AS event_type = 'purchase')"
    )
    rows = match_recognize(ev, text).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["user_id"], r["view_id"], r["click_id"], r["purchase_id"]) == (
        1,
        10,
        11,
        13,
    )


def test_connected_components_on_toy_edges(spark):
    from streamline_hybrid_engine_spark import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    labels = {
        r["vid"]: r["label"] for r in connected_components(edges).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_async_enrich_on_toy_frame(spark):
    from streamline_hybrid_engine_spark import async_enrich

    df = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    out = {
        r["k"]: r["name"]
        for r in async_enrich(df, "k", "name", {1: "a", 2: "b"}).collect()
    }
    assert out == {1: "a", 2: "b", 3: None}


def test_ivm_merge_on_toy_partials(spark):
    from streamline_hybrid_engine_spark import ivm_merge

    state = spark.createDataFrame(
        [("a", 10, 2, 7), ("b", 5, 1, 5)], "k string, s long, n long, mx long"
    )
    delta = spark.createDataFrame(
        [("a", 3, 1, 9), ("c", 1, 1, 1)], "k string, s long, n long, mx long"
    )
    out = {
        r["k"]: (r["s"], r["n"], r["mx"])
        for r in ivm_merge(
            state, delta, keys=["k"], merges={"s": "sum", "n": "sum", "mx": "max"}
        ).collect()
    }
    assert out == {"a": (13, 3, 9), "b": (5, 1, 5), "c": (1, 1, 1)}

    import pytest

    with pytest.raises(ValueError, match="no merge operator"):
        ivm_merge(state, delta, keys=["k"], merges={"s": "sum", "n": "sum"})
    with pytest.raises(ValueError, match="unknown merge"):
        ivm_merge(
            state, delta, keys=["k"], merges={"s": "avg", "n": "sum", "mx": "max"}
        )


def test_keyset_page_walks_all_pages(spark):
    """Walking pages by cursor must enumerate exactly the full sorted
    order, no gaps, no repeats — the keyset-pagination contract."""
    from streamline_hybrid_engine_spark import keyset_page

    rows = [(i % 3, i) for i in range(10)]  # ties on v, unique id
    df = spark.createDataFrame(rows, "v long, id long")
    order = [("v", "desc"), ("id", "asc")]
    want = sorted(rows, key=lambda r: (-r[0], r[1]))

    got, cursor = [], None
    while True:
        page = [tuple(r) for r in keyset_page(df, order, 4, cursor).collect()]
        if not page:
            break
        got.extend(page)
        cursor = page[-1]
    assert got == want

    import pytest

    with pytest.raises(ValueError, match="arity"):
        keyset_page(df, order, 4, cursor=(1,))
    with pytest.raises(ValueError, match="asc/desc"):
        keyset_page(df, [("v", "down")], 4)


def test_compile_quantified_on_toy_events(spark):
    from streamline_hybrid_engine_spark import compile_quantified, match_pattern

    spec = compile_quantified(
        (("a", "view", 1, None), ("b", "purchase", 1, 1)), 24 * 3_600_000_000
    )
    import datetime as dt

    df = spark.createDataFrame(
        [
            (1, 10, "view", _ts(0)),
            (1, 11, "view", _ts(5)),
            (1, 12, "purchase", _ts(9)),
        ],
        "user_id long, event_id long, event_type string, ts timestamp",
    )
    [r] = match_pattern(df, spec).collect()
    assert (r["a_first_id"], r["a_last_id"], r["a_cnt"], r["b_id"]) == (10, 11, 2, 12)


def test_interval_merge_on_toy_frame(spark):
    from streamline_hybrid_engine_spark import interval_merge

    # k=1: [0,10) [5,15) [14,20) chain into one island; [30,40) separate
    df = spark.createDataFrame(
        [(1, 1, 0, 10), (1, 2, 5, 15), (1, 3, 14, 20), (1, 4, 30, 40)],
        "k long, id long, s long, e long",
    )
    out = {
        (r.k, r.island_start): (r.island_end, r.n_intervals)
        for r in interval_merge(df, ["k"], "s", "e", order_col="id").collect()
    }
    assert out == {(1, 0): (20, 3), (1, 30): (40, 1)}


def test_weighted_median_on_toy_frame(spark):
    from streamline_hybrid_engine_spark import weighted_median

    # values 1(w3), 2(w1), 10(w2): total 6, crossing at cum>=3 → value 1
    df = spark.createDataFrame(
        [("a", 1, 3), ("a", 2, 1), ("a", 10, 2)], "k string, v long, w long"
    )
    row = weighted_median(df, ["k"], "v", "w").collect()[0]
    assert (row.wmedian, row.total_weight) == (1, 6)


def test_merge_apply_on_toy_frame(spark):
    from streamline_hybrid_engine_spark import merge_apply

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    changes = spark.createDataFrame(
        [(2, "B", "update"), (3, None, "delete"), (4, "d", "insert")],
        "id long, v string, op string",
    )
    out = {r.id: r.v for r in merge_apply(target, changes, "id").collect()}
    assert out == {1: "a", 2: "B", 4: "d"}


def test_grid_radius_join_on_toy_frame(spark):
    from streamline_hybrid_engine_spark import grid_radius_join

    # (0,0)-(3,4) at d2=25 == r*r kept; (100,100) isolated; neighbor-cell
    # pair (9,0)-(11,0) crosses a cell boundary (r=10) and must be found
    df = spark.createDataFrame(
        [(1, 0, 0), (2, 3, 4), (3, 100, 100), (4, 9, 0), (5, 11, 0)],
        "id long, x long, y long",
    )
    pairs = {
        (r.id_a, r.id_b): r.d2
        for r in grid_radius_join(df, "id", "x", "y", 10).collect()
    }
    assert pairs[(1, 2)] == 25
    assert pairs[(4, 5)] == 4
    assert all(3 not in p for p in pairs)


def test_busday_helpers_on_toy_frame(spark):
    import datetime

    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark import busday_offset, busday_roll

    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 5),),  # Friday
         (datetime.date(2024, 1, 6),)],  # Saturday
        "d date",
    )
    rows = df.select(
        "d",
        busday_roll(F.col("d")).alias("roll"),
        busday_offset(F.col("d"), 1).alias("plus1"),
    ).collect()
    by_d = {r.d.day: r for r in rows}
    assert by_d[5].roll.day == 5 and by_d[5].plus1.day == 8  # Fri → Mon
    assert by_d[6].roll.day == 8 and by_d[6].plus1.day == 9  # Sat → Mon, +1 → Tue


def test_cusum_on_toy_series(spark):
    from streamline_hybrid_engine_spark import cusum

    # target 10, threshold 5: values 12,13 drift +2,+3 → stats 2,5;
    # 4 pulls C down but stat clamps at 0; 16 then alarms (stat 6)
    df = spark.createDataFrame(
        [(1, 1, 12), (1, 2, 13), (1, 3, 4), (1, 4, 16)],
        "k long, t long, v long",
    )
    out = {
        r["t"]: (r["cusum_stat"], r["cusum_alarm"])
        for r in cusum(df, "v", ["k"], ["t"], target=10, threshold=5).collect()
    }
    assert out == {1: (2, 0), 2: (5, 0), 3: (0, 0), 4: (6, 1)}


def test_fill_forward_limited_on_toy_series(spark):
    from streamline_hybrid_engine_spark import fill_forward_limited

    df = spark.createDataFrame(
        [(1, 0, 7), (1, 5, None), (1, 20, None)],
        "k long, us long, v long",
    )
    out = {
        r["us"]: (r["filled"], r["fill_age_us"])
        for r in fill_forward_limited(
            df, "v", "us", ["k"], ["us"], max_age_us=10
        ).collect()
    }
    # at us=5 the carry is 5 old (fresh); at us=20 it is 20 old (stale)
    assert out == {0: (7, 0), 5: (7, 5), 20: (None, None)}


def test_transition_matrix_on_toy_sequence(spark):
    from streamline_hybrid_engine_spark import transition_matrix

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (2, 1, "a"), (2, 2, "b")],
        "k long, t long, s string",
    )
    out = {
        (r["from_state"], r["to_state"]): (r["n"], r["p"])
        for r in transition_matrix(df, "s", ["k"], ["t"]).collect()
    }
    assert out == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}


def test_debounce_on_toy_events(spark):
    from streamline_hybrid_engine_spark import debounce

    df = spark.createDataFrame(
        [(1, 0), (1, 3), (1, 20), (2, 1)],
        "k long, us long",
    )
    kept = sorted(
        (r["k"], r["us"])
        for r in debounce(df, ["k"], "us", ["us"], quiet_us=10).collect()
    )
    # the :3 event is within 10 of :0 and is suppressed
    assert kept == [(1, 0), (1, 20), (2, 1)]


def test_waterfill_on_toy_sources(spark):
    from streamline_hybrid_engine_spark import waterfill

    src = spark.createDataFrame(
        [("web", 100), ("code", 40), ("books", 10)], "source string, n long"
    )
    budget = spark.createDataFrame([(80,)], "b long")
    out = {
        r["source"]: (r["allocation"], r["capped"])
        for r in waterfill(src, "n", "source", budget).collect()
    }
    # books keeps all 10; web/code share the remaining 70 → 35 each
    assert out == {"books": (10, False), "code": (35, True), "web": (35, True)}
    assert sum(a for a, _ in out.values()) == 80


def test_binary_auc_on_toy_scores(spark):
    from streamline_hybrid_engine_spark import binary_auc

    df = spark.createDataFrame(
        [(3, 1), (2, 1), (2, 0), (1, 0)], "s long, y int"
    )
    row = binary_auc(df, "s", "y").collect()[0]
    # pairs: (3>2), (3>1), (2=2 → ½), (2>1) over 2×2 → 3.5/4
    assert (row["n_pos"], row["n_neg"], row["auc"]) == (2, 2, 0.875)


def test_confusion_matrix_on_toy_labels(spark):
    from streamline_hybrid_engine_spark import confusion_matrix

    df = spark.createDataFrame(
        [("en", "en"), ("en", "en"), ("en", "de"), ("de", "de")],
        "actual string, guess string",
    )
    out = {
        (r["actual"], r["guess"]): (r["n"], r["row_share"])
        for r in confusion_matrix(df, "actual", "guess").collect()
    }
    assert out == {
        ("en", "en"): (2, 0.666667),
        ("en", "de"): (1, 0.333333),
        ("de", "de"): (1, 1.0),
    }


def test_first_last_touch_on_toy_candidates(spark):
    from streamline_hybrid_engine_spark import first_last_touch

    df = spark.createDataFrame(
        # group 1: offsets 50 (id 7), 50 (id 3), 10 (id 9)
        [(1, 50, 7), (1, 50, 3), (1, 10, 9), (2, 5, 4)],
        "g long, off long, tid long",
    )
    out = {
        r["g"]: (r["first_touch_id"], r["last_touch_id"])
        for r in first_last_touch(df, ["g"], "off", "tid").collect()
    }
    # first = largest offset (tie → smaller id 3); last = smallest offset
    assert out == {1: (3, 9), 2: (4, 4)}


def test_content_checksum_is_order_independent(spark):
    from streamline_hybrid_engine_spark import content_checksum

    rows = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    a = spark.createDataFrame(rows, "id long, v string")
    b = spark.createDataFrame(rows[::-1], "id long, v string").repartition(3)
    render = "CAST(id AS STRING) || '|' || v"
    ca = content_checksum(a, render).collect()[0]
    cb = content_checksum(b, render).collect()[0]
    assert ca["n_rows"] == cb["n_rows"] == 4
    assert ca["content_checksum"] == cb["content_checksum"]
    # a different multiset must not collide
    c = spark.createDataFrame(rows[:3], "id long, v string")
    assert (
        content_checksum(c, render).collect()[0]["content_checksum"]
        != ca["content_checksum"]
    )


def test_skyline_grid_on_toy_points(spark):
    from streamline_hybrid_engine_spark import skyline_grid

    df = spark.createDataFrame(
        # (id, price, size): 1 dominates 2; 3 cheaper-but-smaller survives
        [(1, 10, 9), (2, 12, 8), (3, 5, 4), (4, 20, 20)],
        "id long, x long, y long",
    )
    got = {r["id"] for r in skyline_grid(df, "x", "y", n_cells=4).collect()}
    assert got == {1, 3, 4}


def test_grid_knn_join_on_toy_points(spark):
    from streamline_hybrid_engine_spark import grid_knn_join

    df = spark.createDataFrame(
        [(1, 0, 0), (2, 3, 0), (3, 10, 0), (4, 100, 100)],
        "id long, x long, y long",
    )
    out = grid_knn_join(df, "id", "x", "y", cell=8, k=2, rings=(1, 32)).collect()
    got = {(r["id"], r["nn_rank"]): r["nn_id"] for r in out}
    assert got[(1, 1)] == 2 and got[(1, 2)] == 3
    # isolated point (zero ring-1 candidates) resolves via the covering ring
    assert got[(4, 1)] == 3
    assert len(out) == 4 * 2


def test_lcs_fold_expr_on_toy_pairs(spark):
    from streamline_hybrid_engine_spark import lcs_fold_expr

    df = spark.createDataFrame(
        [
            (1, ["a", "b", "c", "d"], ["b", "d"]),
            (2, ["x"] * 100, ["x"] * 100),      # crosses the 62-bit word
            (3, [], ["a", "b"]),
            (4, ["q", "r"], []),
        ],
        "i long, a array<string>, b array<string>",
    )
    got = {
        r["i"]: r["lcs"]
        for r in df.selectExpr("i", f"{lcs_fold_expr(128)} AS lcs").collect()
    }
    assert got == {1: 2, 2: 100, 3: 0, 4: 0}


def test_hourly_xcorr_checkpoint_valve_is_result_identical(spark, sf_dir):
    """The 100 TB valve (checkpoint_grid=True — lineage-cut the twice-
    referenced hours×types aggregate so the fact scan happens once)
    must be a pure plan change: identical rows to the default form the
    contract id runs."""
    from streamline_hybrid_engine_spark import hourly_xcorr
    from streamline_hybrid_engine_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")

    def key(rows):
        return sorted(
            (r["type_a"], r["type_b"], r["lag_h"], r["n_hours"], r["xcorr"],
             r["is_best_lag"])
            for r in rows
        )

    base = key(hourly_xcorr(spark, ev).collect())
    valve = key(hourly_xcorr(spark, ev, checkpoint_grid=True).collect())
    assert base == valve
    # narrower sweep stays a prefix of the lag grid
    short = hourly_xcorr(spark, ev, max_lag_h=2).collect()
    assert {r["lag_h"] for r in short} == {0, 1, 2}


def test_dsir_score_table_on_toy_corpus(spark):
    """Library face: fit the DSIR model on YOUR frame with YOUR target
    predicate; a token that only ever appears in the target must land a
    strictly positive bucket score, a raw-only token strictly negative,
    and scoring docs by the model separates them accordingly."""
    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark import (
        bucketize_tokens,
        dsir_score_table,
    )

    rows = [
        (1, "alpha alpha beta", "wiki"),
        (2, "alpha beta beta", "wiki"),
        (3, "gamma gamma delta", "crawl"),
        (4, "delta gamma gamma", "crawl"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    target = F.col("source") == "wiki"
    model = dsir_score_table(docs, target)
    assert model.count() <= 128
    scored = (
        bucketize_tokens(docs, target)
        .join(model, "b")
        .groupBy("doc_id")
        .agg(F.sum("score_q8").alias("w"))
    )
    w = {r.doc_id: r.w for r in scored.collect()}
    assert w[1] > 0 and w[2] > 0          # target-only vocabulary
    assert w[3] < 0 and w[4] < 0          # raw-only vocabulary


def test_ntile_from_rank_library_face(spark):
    """Exact ANSI NTILE from a precomputed rank — the primitive behind
    binned-rank plans; quartiles of 10 rows split 3/3/2/2."""
    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark import ntile_from_rank

    df = spark.range(1, 11).select(
        F.col("id").cast("int").alias("rnk"), F.lit(10).alias("n")
    )
    got = sorted(
        (r.rnk, r.t)
        for r in df.select("rnk", ntile_from_rank("rnk", "n", 4).alias("t")).collect()
    )
    sizes = {}
    for _, t in got:
        sizes[t] = sizes.get(t, 0) + 1
    assert sizes == {1: 3, 2: 3, 3: 2, 4: 2}


def test_binned_rank_matches_global_window(spark):
    """The shared binned-offset primitive (r11): ranks equal the global
    window's for BOTH methods, grouped and ungrouped, with ties; peers
    equals the global tiecount; no window in the plan partitions wider
    than (group, bin)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from streamline_hybrid_engine_spark import binned_rank
    from streamline_hybrid_engine_spark.plans import executed_plan

    rows = [
        # (grp, v, tb): v ties both within and across tie-break order
        ("a", 5, 1), ("a", 5, 2), ("a", 17, 3), ("a", 23, 4), ("a", 23, 5),
        ("a", 41, 6), ("b", 5, 1), ("b", 99, 2), ("b", 99, 3),
    ]
    df = spark.createDataFrame(rows, "grp string, v long, tb long").withColumn(
        "bin", F.expr("v div 10")
    )

    # method="row_number", grouped, with total
    got = binned_rank(
        df, "bin", ["v", "tb"], group_cols=("grp",),
        rank_col="r", total_col="n",
    )
    w = Window.partitionBy("grp").orderBy("v", "tb")
    exp = df.select(
        "grp", "v", "tb",
        F.row_number().over(w).cast("long").alias("r"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
    )
    key = lambda r: (r["grp"], r["v"], r["tb"])  # noqa: E731
    assert sorted(got.select("grp", "v", "tb", "r", "n").collect(), key=key) \
        == sorted(exp.collect(), key=key)

    # method="rank" + peers, ungrouped — the Mann–Whitney shape
    got2 = binned_rank(
        df, "bin", ["v"], rank_col="r", method="rank", peers_col="p"
    )
    w2 = Window.orderBy("v")
    exp2 = df.select(
        "grp", "v", "tb",
        F.rank().over(w2).cast("long").alias("r"),
        F.count("*").over(Window.partitionBy("v")).cast("long").alias("p"),
    )
    assert sorted(got2.select("grp", "v", "tb", "r", "p").collect(), key=key) \
        == sorted(exp2.collect(), key=key)

    # peers_col + composite order key: rejected loudly (r11 ADVICE #3 —
    # RANGE (0,0) over a composite key would silently count full-key ties)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="peers_col"):
        binned_rank(df, "bin", ["v", "tb"], rank_col="r", peers_col="p")

    # scale contract: every Window operator in the plan partitions by
    # something (never the "No Partition Defined" single-task form)
    plan = executed_plan(got)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "windowspecdefinition(" in line
            spec = line.split("windowspecdefinition(")[1]
            # first args before the sort spec are the partition cols —
            # a single-partition window renders windowspecdefinition(v ASC..
            assert not spec.lstrip().startswith("v#"), line
