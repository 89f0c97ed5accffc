"""Each check of the benchmark must reject a deliberately altered output.

Run from the root of the repository:
    python3 -m pytest perfbench/tests -q

The tests build the true outputs from the same generators and truths
the benchmark uses, confirm the checks accept them, then alter one
thing and expect a failure every time. No Spark session is needed.
"""

from __future__ import annotations

import copy
import datetime
import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import ingest  # noqa: E402
import streaming  # noqa: E402

SEED = 5


# --- registry queries: canonical rows and digests -----------------------

def _query_table():
    return pa.table({
        "n_name": ["FRANCE", "GERMANY", "PERU"],
        "revenue": [1234.5678, 99.25, 0.125],
        "orders": [3, 1, 7],
        "day": [datetime.date(1995, 1, 2), datetime.date(1996, 3, 4), None],
    })


def _altered_value(t):
    cols = {n: t.column(n).to_pylist() for n in t.column_names}
    cols["revenue"][1] += 0.01
    return pa.table(cols)


def _dropped_row(t):
    return t.slice(0, t.num_rows - 1)


@pytest.mark.parametrize("alter", [_altered_value, _dropped_row])
def test_oracle_rows_check_fails(alter):
    want = checks.canon(_query_table())
    assert checks.compare_canon(checks.canon(_query_table()), want) is None
    assert checks.compare_canon(checks.canon(alter(_query_table())), want) is not None


@pytest.mark.parametrize("alter", [_altered_value, _dropped_row])
def test_digest_check_fails(alter):
    cols, rows = checks.canon(_query_table())
    want = checks.digest(cols, rows)
    assert checks.check_digest(checks.canon(_query_table()), want, len(rows)) is None
    assert checks.check_digest(checks.canon(alter(_query_table())), want, len(rows)) is not None


def test_canon_is_order_and_case_insensitive():
    t = _query_table()
    shuffled = t.take([2, 0, 1]).select(["orders", "day", "revenue", "n_name"])
    assert checks.canon(t) == checks.canon(shuffled)
    assert checks.canon_value(1.0) == "1" and checks.canon_value(None) == "∅"


# --- ingest: declared types, totals, written lines ----------------------

@pytest.fixture(scope="module")
def ingest_cols():
    return ingest.generate(SEED)


def _ingest_table(cols):
    data = {}
    for c, (v, ok) in cols.items():
        if c == "day":
            vals = [ingest.EPOCH + datetime.timedelta(days=int(x)) for x in v]
        elif c == "name":
            vals = [f"name {int(x)}" for x in v]
        else:
            vals = v.tolist()
        data[c] = [x if k else None for x, k in zip(vals, ok.tolist())]
    return pa.table(data)


def test_ingest_type_check_fails_on_int_read_as_string():
    assert checks.check_types(dict(ingest.TYPES), ingest.TYPES) is None
    wrong = dict(ingest.TYPES, qty="string")
    assert checks.check_types(wrong, ingest.TYPES) is not None


def test_ingest_totals_fail_on_changed_value(ingest_cols):
    want = ingest.truth(ingest_cols)
    table = _ingest_table(ingest_cols)
    assert ingest.check_totals(table, want, ingest.N_ROWS) is None
    cols = copy.deepcopy(ingest_cols)
    cols["price"][0][0] += 1.0
    assert ingest.check_totals(_ingest_table(cols), want, ingest.N_ROWS) is not None


def test_ingest_totals_fail_on_dropped_row(ingest_cols):
    want = ingest.truth(ingest_cols)
    table = _ingest_table(ingest_cols)
    assert ingest.check_totals(table.slice(1), want, ingest.N_ROWS) is not None


def test_ingest_line_count_fails_on_dropped_row(tmp_path, ingest_cols):
    part = tmp_path / "part-00000.csv"
    part.write_text("h\n" + "x\n" * (ingest.N_ROWS - 1))
    assert checks.check_equal(
        "csv lines", ingest.count_lines(str(tmp_path), ".csv", True), ingest.N_ROWS
    ) is not None


# --- streaming: windows, sessions, join pairs, upsert target ------------

@pytest.fixture(scope="module")
def events():
    return streaming.generate(SEED)


def _tumbling_rows(ev):
    return [
        {"window_start": datetime.datetime.fromtimestamp(s / 1e6, datetime.timezone.utc),
         "event_type": t, "n_events": n, "sum_value": v}
        for (s, t), (n, v) in streaming.truth_tumbling(ev).items()
    ]


def test_window_check_fails_when_short_by_one_event(events):
    want = streaming.truth_tumbling(events)
    rows = _tumbling_rows(events)
    assert checks.compare_keyed(streaming.keyed_tumbling(rows), want, "w") is None
    rows[0] = dict(rows[0], n_events=rows[0]["n_events"] - 1)
    assert checks.compare_keyed(streaming.keyed_tumbling(rows), want, "w") is not None


def test_window_check_fails_on_changed_value_and_dropped_row(events):
    want = streaming.truth_tumbling(events)
    rows = _tumbling_rows(events)
    changed = [dict(rows[0], sum_value=rows[0]["sum_value"] + 0.01)] + rows[1:]
    assert checks.compare_keyed(streaming.keyed_tumbling(changed), want, "w") is not None
    assert checks.compare_keyed(streaming.keyed_tumbling(rows[1:]), want, "w") is not None


def test_truth_window_matches_brute_force(events):
    """The vectorised truth agrees with a per-event count of one window."""
    want = streaming.truth_tumbling(events)
    (start, etype), (n, _) = sorted(want.items())[3]
    width = streaming.TUMBLE_S * 1_000_000
    brute = sum(
        1 for t, e in zip(events["ts"], events["event_type"])
        if start <= t < start + width and e == etype
    )
    assert n == brute


def test_session_check_fails_when_short_by_one_event(events):
    want = streaming.truth_sessions(events)
    rows = [
        {"user_id": u, "session_start": s, "session_end": e, "n_events": n, "sum_value": v}
        for (u, s), (e, n, v) in want.items()
    ]
    assert checks.compare_keyed(streaming.keyed_sessions(rows), want, "s") is None
    rows[-1] = dict(rows[-1], n_events=rows[-1]["n_events"] - 1)
    assert checks.compare_keyed(streaming.keyed_sessions(rows), want, "s") is not None


def test_upsert_check_fails_on_changed_value(events):
    latest = streaming.truth_latest(events)
    rows = [{"user_id": u, "event_id": e, "value": v} for u, (e, v) in latest.items()]
    assert checks.compare_keyed(streaming.keyed_latest(rows), latest, "u") is None
    rows[0] = dict(rows[0], value=rows[0]["value"] + 1)
    assert checks.compare_keyed(streaming.keyed_latest(rows), latest, "u") is not None


def test_progress_check_fails_on_lost_or_late_rows():
    ok = [{"numInputRows": 3}, {"numInputRows": 2, "stateOperators": [{"numRowsDroppedByWatermark": 0}]}]
    assert streaming.check_progress(ok, 5) is None
    assert streaming.check_progress(ok, 6) is not None
    late = ok + [{"numInputRows": 0, "stateOperators": [{"numRowsDroppedByWatermark": 1}]}]
    assert streaming.check_progress(late, 5) is not None
