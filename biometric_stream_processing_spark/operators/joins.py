"""Join operators (SURVEY §2.4 J1-J4).

The reference's three join strategies for one logical query:
per-batch keyed full outer join (`BiometricAlertStreamProcessor
.scala:46-49`), windowed interval join (`KafkaBiometricAlertStream
Processor.scala:42-51`, ``JoinWindows.of(15s)``), and co-group
(`README.md:416-421`). Batch equivalents below; Catalyst provides the
standard equi/semi/anti/broadcast family natively.

Scale notes are per-function; the interval join is the one that needs
real engineering — a naive time-range theta-join degenerates to a
per-key nested loop, so we bucketize time to keep it an equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import epoch_seconds


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance_s: int,
    how: str = "inner",
) -> DataFrame:
    """J2: pairs with the same ``key`` whose timestamps (epoch-second
    BIGINT columns) are within ±``tolerance_s`` — Kafka Streams
    ``outerJoin(JoinWindows.of(…))`` semantics
    (`KafkaBiometricAlertStreamProcessor.scala:42-51`).

    Implementation: bucketize time at ``tolerance_s`` granularity and
    explode the left side into its 3 candidate buckets, turning the
    range predicate into an equi-join on ``(key, bucket)`` followed by
    a cheap filter. Every matching pair appears exactly once (the right
    row's bucket is unique). At 100 TB this shuffles on a composite key
    with ~3× left amplification instead of cogrouping entire key
    histories — time-locality bounds each join partition.

    Outer variants can NOT pass ``how`` straight through the exploded
    join (each unmatched left row would surface 3×, once per bucket);
    instead the inner match runs first and unmatched originals are
    unioned back with NULL fills (``unionByName`` with missing
    columns). Unmatched-left identity is CONTENT-derived —
    ``xxhash64`` over every left column — so it is stable under any
    re-evaluation or repartitioning (a ``monotonically_increasing_id``
    would be re-assigned independently in the inner and anti branches
    after a non-deterministic shuffle and silently drop/duplicate
    rows). Identical-content duplicates share an id but also match
    identically (same key/bucket/timestamp), so the anti-join keeps or
    drops them together — exactly outer-join semantics. The residual
    caveat is a 64-bit hash collision between two DIFFERENT rows of
    the same DataFrame (~n²/2⁶⁴): a collision could misclassify one
    row; at that probability this is the standard trade for a
    content-derived key.
    """
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(
            f"interval_join supports inner/left_outer/full_outer, got {how!r}"
        )
    lb = (F.col(left_ts) / tolerance_s).cast("long")
    rb = (F.col(right_ts) / tolerance_s).cast("long")

    def _inner(lsrc: DataFrame) -> DataFrame:
        l = lsrc.withColumn("_bkt", F.explode(F.array(lb - 1, lb, lb + 1)))
        r = right.withColumn("_bkt", rb)
        cond = (
            (l[key] == r[key])
            & (l["_bkt"] == r["_bkt"])
            & (F.abs(l[left_ts] - r[right_ts]) <= tolerance_s)
        )
        # drop the duplicated key column from the right side
        return l.join(r, cond, "inner").drop("_bkt").drop(r[key])

    if how == "inner":
        return _inner(left)

    l0 = left.withColumn(
        "_lid", F.xxhash64(*[F.col(c) for c in left.columns])
    )
    inner = _inner(l0)
    unmatched_l = l0.join(inner.select("_lid"), "_lid", "left_anti")
    out = inner.unionByName(unmatched_l, allowMissingColumns=True)
    if how == "full_outer":
        l = left.withColumn("_bkt", F.explode(F.array(lb - 1, lb, lb + 1)))
        r = right.withColumn("_bkt", rb)
        cond = (
            (r[key] == l[key])
            & (r["_bkt"] == l["_bkt"])
            & (F.abs(l[left_ts] - r[right_ts]) <= tolerance_s)
        )
        unmatched_r = r.join(l, cond, "left_anti").drop("_bkt")
        out = out.unionByName(unmatched_r, allowMissingColumns=True)
    return out.drop("_lid")


def full_outer_keyed(
    left: DataFrame, right: DataFrame, on: list[str]
) -> DataFrame:
    """J1: keyed full outer join with USING-style merged key columns —
    ``(K,(Option[A],Option[B]))`` becomes SQL NULLs natively (the P7
    un-option step at `Spark.scala:50-55` disappears)."""
    return left.join(right, on, "full_outer")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join (most recent right row with ``right_ts <= left_ts``
    per key) — an operator Spark lacks natively, composed from
    built-ins: tag + union + ``last(..., ignorenulls)`` over a
    (key, time) window. Right rows sort before left rows at equal
    timestamps, so the match is inclusive (DuckDB ASOF ``>=``
    semantics).

    Scale: one shuffle on the key, one sort per partition — the same
    cost as any windowed analytic; no per-key Python. The right side
    must be unique per (key, ts) for determinism — pre-aggregate it.

    NULL caveat: ``last(..., ignorenulls=True)`` skips genuinely-NULL
    right values and back-fills the previous non-NULL reading — unlike
    DuckDB ASOF JOIN, which surfaces the NULL. Pre-coalesce right
    values with a sentinel if NULL readings must win.
    """
    reserved = set(left.columns) | {"_tag"}
    clashes = [
        c for c in (*value_cols, f"asof_{right_ts}",
                    *[f"asof_{c}" for c in value_cols])
        if c in reserved
    ]
    if "_tag" in left.columns or clashes:
        raise ValueError(
            "asof_join name collision with left columns: "
            f"{clashes or ['_tag']} — unionByName would silently merge "
            "them and corrupt the fill; rename before joining"
        )
    l = left.withColumn("_tag", F.lit(1))
    r = right.select(
        F.col(key),
        F.col(right_ts).alias(left_ts),
        F.lit(0).alias("_tag"),
        *[F.col(c) for c in value_cols],
    )
    uni = l.unionByName(r, allowMissingColumns=True)
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(key)
        .orderBy(left_ts, "_tag")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    filled = uni.select(
        "*",
        F.last(F.when(F.col("_tag") == 0, F.col(left_ts)), ignorenulls=True)
         .over(w).alias(f"asof_{right_ts}"),
        *[
            F.last(F.when(F.col("_tag") == 0, F.col(c)), ignorenulls=True)
             .over(w).alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    keep = [c for c in left.columns] + [f"asof_{right_ts}"] + [
        f"asof_{c}" for c in value_cols
    ]
    return filled.where(F.col("_tag") == 1).select(*keep).drop("_tag")


def asof_join_cogroup(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    schema: str,
) -> DataFrame:
    """The same as-of join as a cogrouped-Pandas operator
    (``groupBy().cogroup().applyInPandas`` + ``pd.merge_asof``) — the
    J3 co-group shape (`README.md:416-421`) carrying real per-group
    logic. Kept alongside the declarative form to validate both
    strategies produce identical results (tested); prefer the
    declarative one at scale (no Python workers)."""
    import pandas as pd

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        l = l.sort_values(left_ts, kind="mergesort")
        r = (
            r.sort_values(right_ts, kind="mergesort")
            .rename(columns={right_ts: f"asof_{right_ts}"})
            [[f"asof_{right_ts}"] + value_cols]
            .rename(columns={c: f"asof_{c}" for c in value_cols})
        )
        if r.empty:
            out = l.copy()
            out[f"asof_{right_ts}"] = pd.NA
            for c in value_cols:
                out[f"asof_{c}"] = pd.NA
            return out
        return pd.merge_asof(
            l, r, left_on=left_ts, right_on=f"asof_{right_ts}",
            direction="backward", allow_exact_matches=True,
        )

    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(lambda l, r: merge(l, r), schema=schema)
    )
