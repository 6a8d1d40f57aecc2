"""Keyed-window compression (dialect/keyed_windows.py): equivalence
matrix + refusal gates.

The pass claims ``fn(arg) OVER (PARTITION BY p ORDER BY k RANGE …)``
evaluated over the distinct (p, k) grain (with per-key partials and a
null-safe join back) is row-for-row identical to the full-data window
for fn ∈ {sum, count, min, max, first_value, last_value}.  The matrix
here exercises the hinge cases the sf-data oracle queries cannot:
NULL order keys (the null peer group), all-NULL argument groups,
empty prefix/suffix frames (count's COALESCE-to-0 restoration), tied
keys under first/last (key-determined arguments only), DESC order,
and the dense_rank wrap (form B)."""

from __future__ import annotations

import warnings

import pytest

from adt_spark.dialect.keyed_windows import compress_keyed_windows
from adt_spark.dialect.window_frames import rewrite_window_frames


@pytest.fixture(scope="module")
def kw_table(spark):
    """16 rows, 2 partitions, tied + NULL keys, NULL-laden arg."""
    rows = []
    data = [
        # (part, key, val) — key 10 tied 3×; key 40 all-NULL vals;
        # NULL keys (2 rows, one NULL val); lone key 99
        ("a", 10, 1), ("a", 10, None), ("a", 10, 3), ("a", 12, 4),
        ("a", 13, None), ("a", 40, None), ("a", 40, None), ("a", 99, 9),
        ("a", None, 7), ("a", None, None),
        ("b", 10, 5), ("b", 11, 6), ("b", 11, None), ("b", 15, 2),
        ("b", None, 8), ("b", 12, 0),
    ]
    for i, (p, k, v) in enumerate(data):
        rows.append((i, p, k, v))
    df = spark.createDataFrame(rows, "rid INT, p STRING, k INT, v INT")
    df.createOrReplaceTempView("kw_matrix_t")
    return df


def _both(spark, sql):
    """(uncompressed rows, compressed rows), sorted, after asserting
    the pass actually fired."""
    rewritten = rewrite_window_frames(sql)
    compressed = compress_keyed_windows(rewritten)
    assert compressed is not None, rewritten
    a = spark.sql(rewritten)
    cols = a.columns
    return (
        a.orderBy(*cols).collect(),
        spark.sql(compressed).orderBy(*cols).collect(),
    )


CASES = {
    "sum_range": "CAST(sum(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS BIGINT)",
    "count_arg_prefix": "count(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)",
    "count_star_suffix": "count(*) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)",
    # whole-partition agg rides along an ordered call (alone it is
    # refused — no ordered key, no grain; pinned below)
    "min_whole": "min(v) OVER (PARTITION BY p) + 0 * count(*) OVER"
    " (PARTITION BY p ORDER BY k RANGE BETWEEN CURRENT ROW AND CURRENT ROW)",
    "max_desc": "max(v) OVER (PARTITION BY p ORDER BY k DESC"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    "fv_key_fn": "first_value(k * 2 + 1) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 2 FOLLOWING)",
    "lv_key": "last_value(k) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
}


@pytest.mark.parametrize("label", sorted(CASES))
def test_keyed_equivalence(spark, kw_table, label):
    sql = f"SELECT rid, {CASES[label]} AS x\nFROM kw_matrix_t"
    plain, keyed = _both(spark, sql)
    assert plain == keyed


def test_keyed_equivalence_multi_and_types(spark, kw_table):
    """All families in ONE statement (shared grain, like the EXCLUDE
    emissions) + result schema identity."""
    sel = ", ".join(f"{c} AS c{i}" for i, c in enumerate(CASES.values()))
    sql = f"SELECT rid, {sel}\nFROM kw_matrix_t"
    rewritten = rewrite_window_frames(sql)
    compressed = compress_keyed_windows(rewritten)
    assert compressed is not None
    a, b = spark.sql(rewritten), spark.sql(compressed)
    assert [(f.name, f.dataType.simpleString()) for f in a.schema] == [
        (f.name, f.dataType.simpleString()) for f in b.schema
    ]
    cols = a.columns
    assert a.orderBy(*cols).collect() == b.orderBy(*cols).collect()


REFUSALS = {
    # ROWS frames: membership is positional, not key-determined
    "rows_frame": "sum(v) OVER (PARTITION BY p ORDER BY k"
    " ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # first/last over a non-key argument: tie-order-dependent
    "fv_row_arg": "first_value(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # composite order: grain is not one key
    "two_keys": "sum(v) OVER (PARTITION BY p ORDER BY k, v"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # mixed partition keys across calls
    "two_parts": "sum(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), "
    "sum(v) OVER (PARTITION BY k ORDER BY v"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # whole-partition aggregates only — no ordered key, no grain
    "whole_partition_only": "min(v) OVER (PARTITION BY p)",
    # unsupported function
    "avg_fn": "avg(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # nondeterministic argument
    "nondet": "sum(v * rand()) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
}


@pytest.mark.parametrize("label", sorted(REFUSALS))
def test_keyed_refusals(spark, label):
    sql = f"SELECT rid, {REFUSALS[label]} AS x\nFROM kw_matrix_t"
    assert compress_keyed_windows(sql) is None


def test_keyed_refuses_where_tail(spark):
    assert (
        compress_keyed_windows(
            "SELECT rid, sum(v) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN"
            " 1 PRECEDING AND 1 FOLLOWING) AS x FROM kw_matrix_t WHERE v > 0"
        )
        is None
    )


def test_keyed_env_kill_switch(spark, monkeypatch):
    monkeypatch.setenv("ADT_KEYED_WINDOWS", "0")
    assert (
        compress_keyed_windows(
            "SELECT sum(v) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN"
            " 1 PRECEDING AND 1 FOLLOWING) AS x FROM kw_matrix_t"
        )
        is None
    )


def test_keyed_star_keeps_base_columns(spark, kw_table):
    """``SELECT *, <keyed window>``: the star is the base table's
    columns only — the join-back's ``__kw_*`` columns must not leak
    into the result."""
    sql = (
        "SELECT *, sum(v) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN"
        " 1 PRECEDING AND CURRENT ROW) AS x FROM kw_matrix_t"
    )
    compressed = compress_keyed_windows(sql)
    assert compressed is not None
    a, b = spark.sql(sql), spark.sql(compressed)
    assert b.columns == a.columns == ["rid", "p", "k", "v", "x"]
    assert a.orderBy("rid").collect() == b.orderBy("rid").collect()


def test_keyed_refuses_star_over_dense_rank_wrap(spark):
    """Form B's ``*`` also carries the injected ``__adt_drN`` column,
    which the compressed statement does not join back."""
    assert (
        compress_keyed_windows(
            "SELECT *, sum(v) OVER (PARTITION BY p ORDER BY __adt_dr0 RANGE"
            " BETWEEN 1 PRECEDING AND CURRENT ROW) AS x FROM (SELECT *,"
            " dense_rank() OVER (PARTITION BY p ORDER BY k NULLS LAST) AS"
            " __adt_dr0 FROM kw_matrix_t) w"
        )
        is None
    )


@pytest.mark.parametrize("fn", ["first_value", "last_value"])
def test_keyed_refuses_first_last_of_injected_index(spark, fn):
    """A first/last argument naming the injected ``__adt_drN`` would
    become a per-key partial over the base table, which has no such
    column — refused."""
    assert (
        compress_keyed_windows(
            f"SELECT rid, {fn}(__adt_dr0) OVER (PARTITION BY p ORDER BY"
            " __adt_dr0 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS x FROM"
            " (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY k NULLS"
            " LAST) AS __adt_dr0 FROM kw_matrix_t) w"
        )
        is None
    )


def test_keyed_sum_warns_reassociation_once(monkeypatch):
    """A compressed ``sum`` is a sum of per-key partial sums, which
    reassociates floating-point additions: the first one in a process
    emits a RuntimeWarning, a later one does not, and a compression
    without ``sum`` (count's partials are integers) emits none."""
    from adt_spark.dialect import keyed_windows

    monkeypatch.setattr(keyed_windows, "_sum_warned", False)
    frame = "OVER (PARTITION BY p ORDER BY k RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)"
    count_sql = f"SELECT rid, count(v) {frame} AS x FROM kw_matrix_t"
    sum_sql = f"SELECT rid, sum(v) {frame} AS x FROM kw_matrix_t"
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert compress_keyed_windows(count_sql) is not None
    with pytest.warns(RuntimeWarning, match="per-key partial sums"):
        assert compress_keyed_windows(sum_sql) is not None
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert compress_keyed_windows(sum_sql) is not None
