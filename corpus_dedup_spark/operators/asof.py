"""As-of join — attach to each row the most recent earlier row of another
stream, per key.

The canonical time-series primitive (kdb ``aj``, Pandas ``merge_asof``,
QuestDB/ClickHouse ASOF JOIN) that Spark has no native operator for. The
equi-join formulation (``r.ts <= l.ts`` range join) degenerates to a per-key
cross product; the scalable Spark-first shape is the **union-tag sweep**:

1. tag left rows 0 and right rows 1 and union them (one narrow table),
2. one window per key ordered by (ts, tag, id): a running ``max()`` over a
   struct ``(r_ts, r_id, payload)`` carries the latest right row seen so far
   — struct max is order-insensitive within the frame, so the result does
   not depend on how ties are ordered inside it,
3. keep the left rows; the carried struct IS the as-of match.

Strictness is encoded purely in the sort: right rows sort AFTER left rows at
an equal timestamp (tag 1 > tag 0), so a right row never falls inside the
frame of a same-timestamp left row — the join is strict (``r.ts < l.ts``),
deterministic, and needs no per-key cross product. One shuffle on the key,
window state is O(1) per row.

Skew note: the window partitions by the join key, so one pathological key
serializes on one task — same exposure as any keyed window. For web-scale
event streams partition keys are users/hosts with bounded activity; for a
truly hot key, salt by time-bucket and stitch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    left_id_col: str,
    right_id_col: str,
    right_payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """For each left row: the right row with the greatest ``ts`` strictly
    before the left row's ``ts`` on the same key (ties among right rows break
    to the greatest ``right_id_col``). Returns all left columns plus
    ``asof_<right_id_col>``, ``asof_<ts_col>`` and ``asof_<c>`` for each
    payload column — NULL when no earlier right row exists."""
    carried = F.struct(
        F.col(ts_col).alias("_ts"),
        F.col(right_id_col).alias("_id"),
        *[F.col(c).alias(f"_p_{c}") for c in right_payload_cols],
    )
    # NULL-ts right rows can never satisfy r.ts < l.ts (SQL three-valued
    # logic), but under the window's ascending order they would sort FIRST
    # with a non-null carry struct and match everything — drop them up front
    r = right.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col), F.col(ts_col), F.lit(1).alias("_tag"),
        F.col(right_id_col).alias("_ord_id"), carried.alias("_carry"),
    )
    left_cols = left.columns
    l = left.select(
        *left_cols, F.lit(0).alias("_tag"),
        F.col(left_id_col).alias("_ord_id"),
        F.lit(None).cast(r.schema["_carry"].dataType).alias("_carry"),
    )
    both = l.unionByName(r.select(
        key_col, ts_col, "_tag", "_ord_id", "_carry"), allowMissingColumns=True)
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, "_tag", "_ord_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = both.withColumn("_best", F.max("_carry").over(w)).filter(
        F.col("_tag") == 0)
    return out.select(
        *left_cols,
        F.col("_best._id").alias(f"asof_{right_id_col}"),
        F.col("_best._ts").alias(f"asof_{ts_col}"),
        *[F.col(f"_best._p_{c}").alias(f"asof_{c}")
          for c in right_payload_cols],
    )
