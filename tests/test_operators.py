"""Behavioral unit tests for upsert/SCD2 operators — the edge cases the
oracle queries don't isolate (within-batch last-writer-wins, null-safe
change detection, repeated application idempotency)."""

from __future__ import annotations

import datetime as dt
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators import (
    insert_if_absent,
    scd2_apply,
    upsert,
)


def test_upsert_last_writer_wins(spark):
    target = spark.createDataFrame([(1, "a", 10.0)], "k int, v string, x double")
    updates = spark.createDataFrame(
        [(1, "b", 1.0), (1, "c", 2.0), (2, "d", 3.0)], "k int, v string, x double"
    )
    out = upsert(target, updates, ["k"], order_by=["x"]).orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [(1, "c"), (2, "d")]  # x=2.0 wins for k=1


def test_upsert_column_selective(spark):
    target = spark.createDataFrame([(1, "keep", 10.0)], "k int, v string, x double")
    updates = spark.createDataFrame([(1, "clobber", 99.0)], "k int, v string, x double")
    row = upsert(target, updates, ["k"], update_cols=["x"]).collect()[0]
    assert row.v == "keep" and row.x == 99.0


def test_upsert_idempotent_reapply(spark):
    target = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double")
    updates = spark.createDataFrame([(2, 21.0), (3, 30.0)], "k int, x double")
    once = upsert(target, updates, ["k"])
    twice = upsert(once, updates, ["k"])
    assert sorted((r.k, r.x) for r in twice.collect()) == [(1, 10.0), (2, 21.0), (3, 30.0)]


def test_insert_if_absent(spark):
    existing = spark.createDataFrame([("h1",)], "key_hash string")
    incoming = spark.createDataFrame([("h1", 1), ("h2", 2)], "key_hash string, v int")
    out = insert_if_absent(existing, incoming, "key_hash").collect()
    assert [(r.key_hash, r.v) for r in out] == [("h2", 2)]


def _dim(spark, rows):
    return spark.createDataFrame(
        rows, "nk string, attr string, effective_date date, expiration_date date, is_current boolean"
    )


def test_scd2_change_closes_and_inserts(spark):
    dim = _dim(spark, [("k1", "old", dt.date(2024, 1, 1), None, True),
                       ("k2", "same", dt.date(2024, 1, 1), None, True)])
    incoming = spark.createDataFrame(
        [("k1", "new"), ("k2", "same"), ("k3", "brand")], "nk string, attr string"
    )
    out = scd2_apply(dim, incoming, "nk", ["attr"], "2024-06-01")
    rows = {(r.nk, r.attr, r.is_current): r for r in out.collect()}
    assert len(rows) == 4
    closed = rows[("k1", "old", False)]
    assert str(closed.expiration_date) == "2024-06-01"
    assert ("k1", "new", True) in rows
    assert ("k2", "same", True) in rows  # unchanged: single current row
    assert ("k3", "brand", True) in rows  # new key inserted


def test_scd2_null_safe_change_detection(spark):
    dim = _dim(spark, [("k1", None, dt.date(2024, 1, 1), None, True)])
    incoming = spark.createDataFrame([("k1", "filled")], "nk string, attr string")
    out = scd2_apply(dim, incoming, "nk", ["attr"], "2024-06-01").collect()
    states = {(r.attr, r.is_current) for r in out}
    assert states == {(None, False), ("filled", True)}


def test_scd2_noop_batch(spark):
    dim = _dim(spark, [("k1", "v", dt.date(2024, 1, 1), None, True)])
    incoming = spark.createDataFrame([("k1", "v")], "nk string, attr string")
    out = scd2_apply(dim, incoming, "nk", ["attr"], "2024-06-01").collect()
    assert len(out) == 1 and out[0].is_current


# SCD2 against a pure-Python model. The dimension keeps the SCD2 columns
# out of their usual place to pin the output column order; `note` is an
# untracked attribute, so a note-only difference must not close a row.
_SCD2_DDL = (
    "nk string, effective_date date, attr string, grade int, note int, "
    "is_current boolean, expiration_date date"
)
_INC_DDL = "nk string, attr string, grade int, note int"
_D_OLD, _D0, _AS_OF = dt.date(2023, 1, 1), dt.date(2024, 1, 1), dt.date(2024, 6, 1)
_KEYS = ["k1", "k2", "k3", "k4"]
_ATTR = st.sampled_from([None, "a", "b"])
_GRADE = st.sampled_from([None, 1, 2])
_NOTE = st.integers(0, 3)


def _scd2_model(dim: list[tuple], incoming: list[tuple]) -> list[tuple]:
    """Row-at-a-time SCD2: one incoming row per non-NULL key; a NULL key
    never matches, so a current row with one is kept and an incoming row
    with one is inserted."""
    by_key = {r[0]: r for r in incoming if r[0] is not None}
    out = [r for r in dim if r[5] is False]
    matched = set()
    for nk, eff, attr, grade, note, _, exp in (r for r in dim if r[5] is True):
        inc = by_key.get(nk)
        if inc is not None:
            matched.add(nk)
        if inc is None or (attr, grade) == (inc[1], inc[2]):
            out.append((nk, eff, attr, grade, note, True, exp))
        else:
            out.append((nk, eff, attr, grade, note, False, _AS_OF))
            out.append((nk, _AS_OF, inc[1], inc[2], inc[3], True, None))
    out += [
        (i[0], _AS_OF, i[1], i[2], i[3], True, None)
        for i in incoming
        if i[0] is None or i[0] not in matched
    ]
    return out


@st.composite
def _scd2_case(draw):
    current = [
        (k, _D0, draw(_ATTR), draw(_GRADE), draw(_NOTE), True, None)
        for k in draw(st.lists(st.sampled_from(_KEYS), unique=True))
        + [None] * draw(st.integers(0, 2))
    ]
    closed = [
        (k, _D_OLD, a, g, n, False, _D0)
        for k, a, g, n in draw(
            st.lists(st.tuples(st.sampled_from([*_KEYS, None]), _ATTR, _GRADE, _NOTE),
                     max_size=3)
        )
    ]
    tracked = {r[0]: r[2:4] for r in current if r[0] is not None}
    incoming = []
    for k in draw(st.lists(st.sampled_from(_KEYS), unique=True)) + [None] * draw(
        st.integers(0, 2)
    ):
        # half the matched keys arrive unchanged in their tracked columns
        same = k in tracked and draw(st.booleans())
        attr, grade = tracked[k] if same else (draw(_ATTR), draw(_GRADE))
        incoming.append((k, attr, grade, draw(_NOTE)))
    return current + closed, incoming


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_scd2_case())
@example((
    [
        ("k1", _D0, "a", 1, 0, True, None),  # changed attr
        ("k2", _D0, "a", None, 0, True, None),  # unchanged, NULL grade
        ("k3", _D0, None, 2, 0, True, None),  # NULL attr filled in
        ("k4", _D0, "b", 2, 0, True, None),  # absent from the batch
        (None, _D0, "a", 1, 0, True, None),  # NULL key, kept
        ("k1", _D_OLD, "b", 1, 0, False, _D0),  # closed history
        (None, _D_OLD, None, None, 1, False, _D0),
    ],
    [
        ("k1", "b", 1, 0),
        ("k2", "a", None, 3),  # untracked note differs only
        ("k3", "a", 2, 0),
        ("k5", None, None, 0),  # new key
        (None, "a", 1, 0),  # NULL key, inserted
    ],
))
@example(([("k1", _D0, "a", None, 0, True, None)], [("k1", "a", 1, 0)]))
@example(([], [(None, None, None, 0), (None, None, None, 0)]))
def test_scd2_matches_python_model(spark, case):
    dim_rows, inc_rows = case
    dim = spark.createDataFrame(dim_rows, _SCD2_DDL)
    incoming = spark.createDataFrame(inc_rows, _INC_DDL)
    out = scd2_apply(dim, incoming, "nk", ["attr", "grade"], str(_AS_OF))
    assert out.columns == dim.columns
    assert Counter(tuple(r) for r in out.collect()) == Counter(_scd2_model(dim_rows, inc_rows))


def test_scd2_widens_types_like_a_union(spark):
    """The output types are the ones a union of the dimension and the
    incoming batch gives: a long history column absorbs an int batch."""
    dim = spark.createDataFrame(
        [("k1", 1, dt.date(2024, 1, 1), None, True)],
        "nk string, attr int, effective_date date, expiration_date date, is_current boolean",
    )
    incoming = spark.createDataFrame([("k1", 2), ("k2", 3)], "nk string, attr long")
    out = scd2_apply(dim, incoming, "nk", ["attr"], "2024-06-01")
    assert out.schema.simpleString() == (
        "struct<nk:string,attr:bigint,effective_date:date,expiration_date:date,"
        "is_current:boolean>"
    )
    assert sorted((r.nk, r.attr, r.is_current) for r in out.collect()) == [
        ("k1", 1, False), ("k1", 2, True), ("k2", 3, True)
    ]


def test_scd2_duplicate_incoming_key_leaves_two_current_rows(spark):
    """Outside the contract, pinned so a change of it is deliberate: each
    copy of a repeated incoming key is merged on its own."""
    dim = _dim(spark, [("k1", "old", dt.date(2024, 1, 1), None, True)])
    incoming = spark.createDataFrame(
        [("k1", "x"), ("k1", "y"), ("k9", "n"), ("k9", "n")], "nk string, attr string"
    )
    out = scd2_apply(dim, incoming, "nk", ["attr"], "2024-06-01").collect()
    current = Counter(r.nk for r in out if r.is_current)
    assert current == {"k1": 2, "k9": 2}
    assert sum(not r.is_current for r in out) == 2  # one closed copy per change


def test_quality_compiler_fires_on_injected_violations(spark, sf_dir):
    """Guard against a compiler that trivially reports zero: inject known
    violations and assert the exact counts come back."""
    from pyspark.sql import functions as F

    from automated_agro_climatic_data_warehouse_spark.operators.quality import (
        DEFAULT_RULES,
        run_rules,
    )
    from automated_agro_climatic_data_warehouse_spark.sources import load_tables

    tables = load_tables(spark, sf_dir)
    li = tables["lineitem"]
    n_bad_qty = li.filter(F.col("l_orderkey") % 100 == 0).count()
    n_bad_flag = li.filter(F.col("l_orderkey") % 200 == 0).count()
    tables["lineitem"] = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 100 == 0, F.lit(999.0)).otherwise(F.col("l_quantity")),
    ).withColumn(
        "l_returnflag",
        F.when(F.col("l_orderkey") % 200 == 0, F.lit("Z")).otherwise(F.col("l_returnflag")),
    )
    res = {r.rule_name: r.violation_count
           for r in run_rules(spark, DEFAULT_RULES, tables).collect()}
    assert res["lineitem_quantity_range"] == n_bad_qty
    assert res["lineitem_flag_enum"] == n_bad_flag
    assert res["orders_status_enum"] == 0


def test_hof_single_transform_matches_exploded_hash(spark):
    """Engine-trust guard for the HOF patterns we rely on: a SINGLE
    `F.transform` lambda must hash identically to the exploded row-wise
    computation. (Spark 4.1.2 silently mis-binds MULTIPLE structurally
    identical transform lambdas that differ only in a captured literal —
    see operators/dedup.py minhash_signatures docstring — so the
    codebase only ever puts one such lambda in a projection; this test
    pins the correctness of the shape we do use.)"""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, ["abc", "def", "ghi"])], "id int, arr array<string>")
    single = df.select(
        F.transform("arr", lambda s: F.xxhash64(F.lit(1), s)).alias("h")
    ).collect()[0].h
    exploded = [
        r.h
        for r in df.select(F.explode("arr").alias("s"))
        .select(F.xxhash64(F.lit(1), F.col("s")).alias("h"))
        .collect()
    ]
    assert list(single) == exploded
