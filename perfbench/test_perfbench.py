"""Self-tests of the benchmark's output checks.

    python3 -m pytest perfbench/test_perfbench.py -q

The pure tests need no Spark. ``test_wrong_oracle_counts_as_failed``
runs the real benchmark loop on one query against a deliberately
wrong expected result and needs about half a minute.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


def test_expected_accepts_reordered_rows_and_columns():
    e = check.Expected({"q": (["a", "b"], [(1, 0.5), (2, 1.0)])})
    assert e.check("q", ["b", "a"], [(1.0, 2), (0.5, 1)]) is None


def test_expected_rejects_a_wrong_value():
    e = check.Expected({"q": (["a", "b"], [(1, 2.0), (2, 1.0)])})
    assert e.check("q", ["a", "b"], [(1, 2.0), (2, 1.5)]) is not None


def test_expected_rejects_a_missing_row_a_renamed_column_and_no_oracle():
    e = check.Expected({"q": (["a"], [(1,), (2,)])})
    assert e.check("q", ["a"], [(1,)]) is not None
    assert e.check("q", ["z"], [(1,), (2,)]) is not None
    assert e.check("r", ["a"], [(1,)]) is not None


def test_audit_flags():
    cols = ["n_rows", "prune_improved", "registry_ok"]
    assert check.flag_failures("a", cols, [(10, 1, 1)]) is None
    assert check.flag_failures("a", cols, [(10, 0, 1)]) is not None
    assert check.flag_failures("a", cols, [(10, 1, False)]) is not None


def test_day_check():
    day = {"expected_new": 5, "expected_skill_rows": 9}
    assert check.day_failure("day1", 5, 9, day) is None
    assert check.day_failure("day1", 6, 9, day) is not None
    assert check.day_failure("day1", 5, 8, day) is not None
    replay = {"expected_new": 0, "expected_skill_rows": 0}
    assert check.day_failure("replay", 0, 0, replay) is None
    assert check.day_failure("replay", 1, 3, replay) is not None


def test_inputs_repeat_for_a_seed():
    a, b, c = gen.fixture_tables(5), gen.fixture_tables(5), gen.fixture_tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_posting_days_replay_and_repeats():
    days = gen.posting_days(3, 4, 200, 0.25)
    assert [d["expected_new"] for d in days] == [200, 150, 150, 0]
    assert days[-1]["rows"] == days[0]["rows"]
    ids = [r[0] for d in days[:-1] for r in d["rows"]]
    assert len(ids) - len(set(ids)) == 100  # the repeats


def test_wrong_oracle_counts_as_failed(monkeypatch):
    import run
    import workloads

    # A cheap oracle-checked query stands in for the audits.
    monkeypatch.setattr(workloads.Lakehouse, "names", ["q6_forecast_revenue"])
    prepare = workloads.Lakehouse.prepare

    def wrong_prepare(self, spark, rec):
        prepare(self, spark, rec)
        self.expected = check.Expected({"q6_forecast_revenue": (["revenue"], [(-1.0,)])})

    monkeypatch.setattr(workloads.Lakehouse, "prepare", wrong_prepare)
    cwd = os.getcwd()
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            assert run.main(["--workload", "lakehouse_maint", "--seed", "1", "--seconds", "1"]) == 0
    finally:
        os.chdir(cwd)
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] > 0
