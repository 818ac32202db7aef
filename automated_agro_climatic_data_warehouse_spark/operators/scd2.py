"""SCD Type 2 dimension maintenance (SURVEY §1.1 dim_location, §7.2 step 5).

The reference keeps SCD2 columns on dim_location
(db/init/01-schema.sql:22-24: effective_date / expiration_date /
is_current) but maintains them procedurally row-by-row
(etl/load/postgres_loader.py:19-63). Spark-native: one set-based pass —

    current ⟗ incoming on the natural key (one full outer join), then
    one generator per joined row:
      changed       → closed current row + fresh incoming row
      incoming-only → fresh incoming row
      otherwise     → current row kept as is
    ∪ the closed history rows, which never enter the join

At scale: the dimension is orders of magnitude smaller than facts; the
join is on the natural-key hash (uniform), history stays append-only —
this is the standard warehouse pattern without requiring Delta MERGE.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCD2_COLS = ("effective_date", "expiration_date", "is_current")


def _differs(a: Column, b: Column) -> Column:
    """Null-safe inequality: NULL vs value counts as a change."""
    return ~a.eqNullSafe(b)


def scd2_apply(
    dim: DataFrame,
    incoming: DataFrame,
    natural_key: str,
    tracked_cols: list[str],
    as_of,  # Column or date literal string
) -> DataFrame:
    """Apply one incoming batch to an SCD2 dimension.

    `dim` holds the full history (current + closed rows); `incoming` holds
    one attribute row per natural key. Returns the new full history, in
    `dim`'s column order, with the types a union of `dim` and `incoming`
    gives.

    A current row whose tracked columns differ from its incoming row
    (null-safe: NULL vs value is a change) is closed at `as_of` and the
    incoming row is inserted as the new current row; an incoming key with
    no current row is inserted; every other current row is kept. Each
    side of the join carries a literal flag, so a NULL natural key never
    matches: a current row with one is kept, an incoming row with one is
    inserted.

    An incoming key that appears twice is outside the contract: each copy
    is matched against the current row on its own, so every differing
    copy closes it (one closed row per copy) and inserts itself, and the
    key is left with two current rows.
    """
    as_of_col = F.lit(as_of).cast("date") if isinstance(as_of, str) else as_of
    attrs = [c for c in dim.columns if c not in SCD2_COLS]
    history = dim.filter(~F.col("is_current"))
    cur = dim.filter(F.col("is_current")).select(
        F.lit(True).alias("__cur"), *[F.col(c).alias(f"__c_{c}") for c in dim.columns]
    )
    inc = incoming.select(
        F.lit(True).alias("__inc"), *[F.col(c).alias(f"__i_{c}") for c in attrs]
    )
    joined = cur.join(
        inc, F.col(f"__c_{natural_key}") == F.col(f"__i_{natural_key}"), "full_outer"
    )
    # read only where a current row exists (`rows` tests that first)
    changed = F.col("__inc").isNotNull() & reduce(
        lambda x, y: x | y,
        [_differs(F.col(f"__c_{c}"), F.col(f"__i_{c}")) for c in tracked_cols],
    )
    # the current row, closed when changed (kept rows are current, so
    # `is_current = NOT changed` leaves them as they were)
    old = F.struct(
        *[F.col(f"__c_{c}").alias(c) for c in attrs],
        F.col("__c_effective_date").alias("effective_date"),
        F.when(changed, as_of_col)
        .otherwise(F.col("__c_expiration_date"))
        .alias("expiration_date"),
        (~changed).alias("is_current"),
    )
    fresh = F.struct(
        *[F.col(f"__i_{c}").alias(c) for c in attrs],
        as_of_col.alias("effective_date"),
        F.lit(None).cast("date").alias("expiration_date"),
        F.lit(True).alias("is_current"),
    )
    rows = (
        F.when(F.col("__cur").isNull(), F.array(fresh))
        .when(changed, F.array(old, fresh))
        .otherwise(F.array(old))
    )
    out = joined.select(F.inline(rows))
    return history.unionByName(out.select(*dim.columns))
