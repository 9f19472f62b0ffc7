"""Expected answers for every row, computed once per run on its lake.

- Batch rows: the row's DuckDB oracle SQL, compared with
  ``tools/parity.py``'s ``canon``/``compare``.
- Streaming rows: the batch form of the same query. ``stream_tumble_1h``
  has DuckDB SQL of its own query text as the expected answer; the session
  and stream-static-join drains are checked against the batch forms of the
  same query in ``tests/test_streaming.py``.

The first execution of a row is compared in full; a later execution that
returns the same rows (same digest) passes without a second comparison,
and any other result is compared in full again.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
from collections.abc import Callable

import pandas as pd

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from parity import TABLES, compare, duck_con  # noqa: E402

#: Streaming row -> DuckDB SQL of its own query text, the expected answer.
#: Not the oracle of the batch row ``win_tumble_1h_batch``: that row sums
#: ``value`` floored to whole micros (``dsum``), which the drain does not,
#: so a window with a value such as 0.29 (a double just below 0.29) sums
#: 1e-6 lower there. The drain's ``round(sum(value), 6)`` is the form that
#: ``tests/test_streaming.py`` checks it against.
STREAM_ORACLES = {
    "stream_tumble_1h": """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
           event_type,
           count(*) AS n,
           round(sum(value), 6) AS sum_value
    FROM events
    GROUP BY ws, event_type
    """,
}

#: Input tables of the rows checked against a batch form, not an oracle.
FORM_TABLES = {
    "stream_static_enrich": {"events", "customer", "nation"},
    "stream_user_session_state": {"events"},
}


def digest(columns: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256("|".join(columns).encode())
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def _frame(columns: list[str], rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame.from_records(rows, columns=columns)


def _frame_check(expected: pd.DataFrame) -> Callable[[list[str], list[tuple]], str]:
    """Result, projected on the expected columns, must equal ``expected``
    exactly or within parity's float tolerance."""
    cols = list(expected.columns)

    def check(columns: list[str], rows: list[tuple]) -> str:
        got = _frame(columns, rows)
        missing = [c for c in cols if c not in got.columns]
        if missing:
            return f"missing columns {missing}"
        exact, approx, msg = compare(got[cols], expected)
        return "" if exact or approx else msg

    return check


def _batch_forms(spark, lake: str) -> dict[str, pd.DataFrame]:
    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark.catalog import load_table

    ev = load_table(spark, lake, "events")
    c = load_table(spark, lake, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    n = load_table(spark, lake, "nation").select("n_nationkey", "n_name")
    enrich = (
        ev.join(c, "user_id")
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    sessions = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events")
    )
    return {
        "stream_static_enrich": enrich.toPandas(),
        "stream_user_session_state": sessions.toPandas(),
    }


class Checker:
    """Expected answers for one workload's rows on one lake."""

    def __init__(self, spark, lake: str, rows: tuple[str, ...], queries: dict) -> None:
        self._checks: dict[str, Callable] = {}
        self._good: dict[str, str] = {}
        self.tables: dict[str, set[str]] = dict(FORM_TABLES)
        con = duck_con(lake)
        forms = None
        try:
            for row in rows:
                sql = STREAM_ORACLES.get(row) or queries[row].oracle
                if sql is not None:
                    self._checks[row] = _frame_check(con.execute(sql).fetchdf())
                    self.tables[row] = {
                        t for t in TABLES if re.search(rf"\b{t}\b", sql)
                    }
                else:
                    if forms is None:
                        forms = _batch_forms(spark, lake)
                    self._checks[row] = _frame_check(forms[row])
        finally:
            con.close()

    def input_tables(self, rows: tuple[str, ...]) -> list[str]:
        return sorted(set().union(*(self.tables[r] for r in rows)))

    def input_records(self, row: str, lake_rows: dict[str, int]) -> int:
        """Input records one execution of batch ``row`` consumes: the rows
        of every table its query reads."""
        return sum(lake_rows[t] for t in self.tables[row])

    def check(self, row: str, columns: list[str], rows: list[tuple]) -> str:
        """'' when the result is correct, else what differs."""
        d = digest(columns, rows)
        if self._good.get(row) == d:
            return ""
        msg = self._checks[row](columns, rows)
        if not msg:
            self._good[row] = d
        return msg

