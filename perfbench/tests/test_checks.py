"""The output checks can fail: one corrupted row fails the check, and
the op it belongs to counts toward error_rate."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from reference import (
    METRIC_COLUMNS, SESSION_COLUMNS, Answers, Reference, same_result, same_rows,
)


@pytest.fixture(scope="module")
def ref(small_stage):
    return Reference(small_stage[1])


def test_reference_sessions_keep_and_drop_the_reference_cases(ref, small_stage):
    feeds, _ = small_stage
    sessions = ref.sessions()
    assert len(sessions) > 0
    assert sessions["total_duration"].min() >= 180
    assert (sessions["total_duration"] == 180).any()
    assert sessions["hh_id"].notna().all() and sessions["panel_weight"].notna().all()


def _corrupt(frame, column):
    bad = frame.copy()
    bad.loc[bad.index[0], column] = bad.loc[bad.index[0], column] + 1
    return bad


def test_session_check_fails_on_one_changed_row(ref):
    want = ref.sessions()
    assert same_rows(want.sample(frac=1, random_state=1), want, SESSION_COLUMNS)
    assert not same_rows(_corrupt(want, "total_duration"), want, SESSION_COLUMNS)
    assert not same_rows(want.iloc[1:], want, SESSION_COLUMNS)


def test_read_op_with_a_corrupted_row_counts_as_failed(ref):
    from workloads import OpLog, check_op

    want = ref.top_titles()
    expected = {("top_titles", None): want}
    good = (list(want.columns), [tuple(r) for r in want.itertuples(index=False)])
    bad_frame = _corrupt(want, "weighted_duration")
    bad = (list(want.columns), [tuple(r) for r in bad_frame.itertuples(index=False)])
    ops = OpLog()
    for got in (good, bad):
        out = ops.run("top_titles", lambda got=got: got)
        if not check_op(expected, "top_titles", None, out):
            ops.fail("top_titles", "output != DuckDB reference")
    assert (ops.attempted, ops.failed) == (2, 1)


def test_answers_in_a_subprocess_equal_the_in_process_reference(ref, small_stage, tmp_path):
    _, stage = small_stage
    hh = ref.households()[0]
    request = {"stage": stage, "keys": [("household", hh), ("mondays", None)]}
    with Answers(request, str(tmp_path)) as child:
        got = child.result()
    assert got[("mondays", None)] == ref.mondays()
    assert same_rows(got[("household", hh)], ref.household(hh), METRIC_COLUMNS)
    assert os.listdir(tmp_path) == []


def test_llm_query_with_a_corrupted_row_counts_as_failed():
    """The oracle comparison of serve's registry queries: column order and row order do
    not matter, one changed value or one missing row does."""
    from workloads import OpLog

    want = pd.DataFrame({"doc_id": [3, 1, 2], "component": [1, 1, 2],
                         "score": [0.5, 0.25, 0.125]})
    good = want[["score", "component", "doc_id"]].iloc[::-1]
    ops = OpLog()
    for got in (good, _corrupt(want, "component"), want.iloc[1:], want.iloc[:0]):
        out = ops.run("dup_components", lambda got=got: got)
        if not same_result(out, want):
            ops.fail("dup_components", "output != DuckDB oracle")
    assert (ops.attempted, ops.failed) == (4, 3)


def test_spark_read_op_check_end_to_end(spark, small_stage, tmp_path):
    """A real op on a backfilled warehouse passes its check; the same
    result with one row corrupted fails it and raises error_rate."""
    from samba_tv_ingest_etl_spark.plans.backfill import backfill
    from workloads import OpLog, _op, _stage_tables, _warehouse, check_op

    _, stage = small_stage
    ref = Reference(stage)
    wh = _warehouse(spark, os.path.join(str(tmp_path), "wh"))
    backfill(wh, *_stage_tables(spark, stage))
    hh = ref.households()[0]
    expected = {("household", hh): ref.household(hh)}
    ops = OpLog()
    cols, rows = ops.run("household", lambda: _op(wh, "household", hh))
    assert check_op(expected, "household", hh, (cols, rows))
    i = cols.index("total_duration")
    first = list(rows[0])
    first[i] += 1
    corrupted = (cols, [tuple(first)] + [tuple(r) for r in rows[1:]])
    ops.attempted += 1
    if not check_op(expected, "household", hh, corrupted):
        ops.fail("household", "output != DuckDB reference")
    assert ops.failed == 1 and ops.failed / ops.attempted == 0.5
