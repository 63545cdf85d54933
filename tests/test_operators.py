"""Unit tests for the core operators (argmax dedup answers, null handling,
predicate compiler errors)."""

from __future__ import annotations

import pytest

from fastdb_spark.operators.dedup import (
    argmax_sql,
    dedup_first_seen,
    dedup_top_priority,
)
from fastdb_spark.operators.patch import patch_lightcurve
from fastdb_spark.operators.predicates import FieldSpec, apply_where, compile_where


@pytest.fixture()
def versions_df(spark):
    rows = [
        # key (1,1): priorities 0,2,1 -> pick p=2 (val=b)
        (1, 1, 0, "a"),
        (1, 1, 2, "b"),
        (1, 1, 1, "c"),
        # key (1,2): single row
        (1, 2, 0, "d"),
        # key (2,1): tie on priority -> tiebreak on val
        (2, 1, 1, "x"),
        (2, 1, 1, "y"),
    ]
    return spark.createDataFrame(rows, ["k1", "k2", "priority", "val"])


def _by_key(df):
    return {(r["k1"], r["k2"]): r["val"] for r in df.collect()}


def test_dedup_strategies_agree(versions_df):
    """The DataFrame operator and the ``argmax_sql`` fragment it shares with
    ``versions.versioned_sql`` pick the same rows: the largest
    (priority, val) per key, with the input's columns in the input's order."""
    keys, order = ["k1", "k2"], ["priority", "val"]
    op = dedup_top_priority(versions_df, keys, order)
    frag = versions_df.sparkSession.sql(
        argmax_sql("{df}", versions_df.columns, keys, order), df=versions_df
    )
    assert op.columns == frag.columns == versions_df.columns
    assert _by_key(op) == _by_key(frag) == {(1, 1): "b", (1, 2): "d", (2, 1): "y"}


def test_first_seen_strategies_agree(versions_df):
    """As above for first seen: the smallest (priority, val) per key."""
    keys, order = ["k1", "k2"], ["priority", "val"]
    op = dedup_first_seen(versions_df, keys, order)
    frag = versions_df.sparkSession.sql(
        argmax_sql("{df}", versions_df.columns, keys, order, largest=False),
        df=versions_df,
    )
    assert op.columns == frag.columns == versions_df.columns
    assert _by_key(op) == _by_key(frag) == {(1, 1): "a", (1, 2): "d", (2, 1): "x"}


def test_dedup_null_ordering_value(spark):
    """Spark's struct ordering puts a NULL ordering field below every
    non-NULL value: a row with a NULL ordering value is kept when it is
    alone for its key, loses to a non-NULL row under ``max_by`` (top
    priority) and wins over it under ``min_by`` (first seen)."""
    df = spark.createDataFrame(
        [(1, None, "alone"), (2, None, "null"), (2, 5, "five"),
         (3, -7, "minus7"), (3, None, "null")],
        "k int, o int, v string",
    )
    top = {r["k"]: r["v"] for r in dedup_top_priority(df, ["k"], ["o"]).collect()}
    first = {r["k"]: r["v"] for r in dedup_first_seen(df, ["k"], ["o"]).collect()}
    assert top == {1: "alone", 2: "five", 3: "minus7"}
    assert first == {1: "alone", 2: "null", 3: "null"}


def test_patch_row_level_preference(spark):
    """Forced row wins wholesale even when its value is NULL (reference
    CASE WHEN f.rootid IS NULL THEN s.x ELSE f.x END semantics)."""
    forced = spark.createDataFrame(
        [(1, 10, None), (1, 11, 5.0)], ["rootid", "visit", "flux"]
    )
    sources = spark.createDataFrame(
        [(1, 10, 99.0), (1, 12, 7.0)], ["rootid", "visit", "flux"]
    )
    out = {
        (r["rootid"], r["visit"]): r
        for r in patch_lightcurve(forced, sources, ("rootid", "visit"), ["flux"]).collect()
    }
    assert out[(1, 10)]["flux"] is None  # forced NULL wins over source 99.0
    assert out[(1, 10)]["isdet"] and not out[(1, 10)]["ispatch"]
    assert out[(1, 11)]["flux"] == 5.0 and not out[(1, 11)]["isdet"]
    assert out[(1, 12)]["flux"] == 7.0 and out[(1, 12)]["ispatch"]


def test_predicate_compiler_surface(spark):
    specs = {
        "a": FieldSpec(mult=True),
        "b": FieldSpec(substr=True),
        "c": FieldSpec(minmax=True),
        "d": FieldSpec(minmax=True),
    }
    df = spark.createDataFrame(
        [(1, "foo", 10, 3), (2, "bar", 20, 30), (1, "foobar", 30, 3)],
        ["a", "b", "c", "d"],
    )
    got = apply_where(
        df, specs, {"a": [1], "b": ["foo"], "c_min": 5, "c_max": 30}
    ).collect()
    assert {(r["a"], r["b"]) for r in got} == {(1, "foo"), (1, "foobar")}

    # cross-field difference: c - d >= 20
    got2 = apply_where(df, specs, {"c_minus_d_min": 20}).collect()
    assert {r["c"] for r in got2} == {30} if len(got2) == 1 else True
    assert len(got2) == 1

    with pytest.raises(ValueError):
        compile_where(specs, {"nope": 1})
    with pytest.raises(ValueError):
        compile_where(specs, {"b": ["x"], "a_min": 1})  # a is not minmax
    with pytest.raises(ValueError):
        compile_where({"a": FieldSpec()}, {"a": [1, 2]})  # list without mult


def test_compile_where_none_when_empty():
    assert compile_where({"a": FieldSpec()}, {}) is None
    assert compile_where({"a": FieldSpec()}, {"a": None}) is None
