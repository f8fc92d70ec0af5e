"""The local verification gates must be at least as strict as the real
driver on dtype KIND.

Round-4 lesson (VERDICT r4 "What's wrong" #2): the driver hashes
repr() of TYPED cells, so an int64 column on one side vs float64 on the
other mismatches (repr 5 != 5.0) even when values are numerically
equal — exactly how `sample_pack_sequences` shipped a red driver row
(DuckDB windowed sum(BIGINT) -> HUGEINT -> pandas float64) while both
tools/check.py and tools/driver_sim.py said ok. These tests pin the
fixed behavior: int-kind vs float-kind divergence is a HARD failure in
compare(); same-kind width drift (int32 vs int64) stays soft because
reprs agree.
"""

from __future__ import annotations

import pandas as pd

from tools.check import canon, compare


def _hard(problems: list[str]) -> list[str]:
    return [p for p in problems if not p.startswith("dtype note")]


def test_int_vs_float_kind_is_hard_failure():
    a = pd.DataFrame({"k": [1, 2], "v": pd.Series([5, 7], dtype="int64")})
    b = pd.DataFrame({"k": [1, 2], "v": pd.Series([5.0, 7.0], dtype="float64")})
    problems = compare(a, b)
    assert any("KIND mismatch" in p for p in problems), problems
    assert _hard(problems), "equal values must not mask the kind divergence"


def test_float_vs_int_symmetric():
    a = pd.DataFrame({"v": pd.Series([1.0], dtype="float64")})
    b = pd.DataFrame({"v": pd.Series([1], dtype="int64")})
    assert any("KIND mismatch" in p for p in compare(a, b))


def test_int_width_drift_is_soft():
    a = pd.DataFrame({"v": pd.Series([5, 7], dtype="int32")})
    b = pd.DataFrame({"v": pd.Series([5, 7], dtype="int64")})
    problems = compare(a, b)
    assert not _hard(problems), problems


def test_matching_kinds_still_pass():
    a = pd.DataFrame({"k": ["x"], "v": [1.5]})
    b = pd.DataFrame({"k": ["x"], "v": [1.5]})
    assert not compare(a, b)


def test_canon_normalizes_int_width():
    df, _ = canon(pd.DataFrame({"v": pd.Series([5], dtype="int32")}))
    assert str(df["v"].dtype) == "int64"


def test_value_divergence_still_caught_across_kind():
    # kind mismatch AND value mismatch: both reported, still hard
    a = pd.DataFrame({"v": pd.Series([5], dtype="int64")})
    b = pd.DataFrame({"v": pd.Series([6.0], dtype="float64")})
    problems = compare(a, b)
    assert _hard(problems)
