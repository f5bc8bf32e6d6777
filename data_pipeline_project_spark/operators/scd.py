"""Slowly-changing-dimension (type 2) merge: apply a batch of keyed,
timestamped attribute changes to a versioned dimension, producing the
new validity-interval history.

Interval contract: half-open ``[valid_from, valid_to)``; the current
version of a key has ``valid_to IS NULL``. A batch may carry MANY
changes per key (the realistic CDC case); they are applied in
timestamp order, consecutive versions with identical attributes
collapse (a "change" to the same value is a no-op), and a first change
equal to the key's current attributes is likewise a no-op.

Plan shape at 100 TB (dim huge, change batch comparatively small):
- the dimension's CLOSED history passes through untouched — never
  shuffled, never rewritten;
- current rows split by a broadcast semi/anti join on the (small)
  changed-key set — only touched keys enter the versioning machinery;
- versioning is ONE hash shuffle on the key: current row and its
  changes form a per-key ordered sequence; a lag-window drops no-op
  changes, a lead-window chains valid_to. Catalyst reuses the same
  exchange for both windows (same partitioning and ordering).

Its output applied with ``sinks.manifest.merge_upsert`` is the MERGE
INTO pattern of a lakehouse table format, expressed as pure DataFrame
ops.

Reference scope note: the reference's aggregate upsert (K2,
`pipeline.py:227-245`) is type-1 overwrite-by-key; type 2 history is
part of the warehouse extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_merge(
    dim: DataFrame,
    changes: DataFrame,
    key_col: str,
    attr_cols: list[str],
    change_ts_col: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """New SCD2 state of ``dim`` after applying ``changes``.

    ``dim`` columns: key, attrs, ``from_col``, ``to_col`` (null = open).
    ``changes`` columns: key, attrs, ``change_ts_col`` (+``order_cols``
    as a deterministic tiebreak for same-timestamp changes).
    Returns the same schema as ``dim``.

    Out-of-order contract: a change timestamped BEFORE its key's open
    version began (``ts < valid_from``) is DISCARDED — it belongs to
    already-closed history, and applying it would rewrite the open
    version's start retroactively (found by the property test in
    tests/test_scd_property.py). Correcting closed history is a
    bitemporal restatement, deliberately out of scope here.
    """
    order_cols = order_cols or []
    attrs = [F.col(c) for c in attr_cols]

    closed = dim.where(F.col(to_col).isNotNull())
    cur = dim.where(F.col(to_col).isNull())
    keys = changes.select(key_col).distinct()
    untouched = cur.join(F.broadcast(keys), key_col, "left_anti")
    touched = cur.join(F.broadcast(keys), key_col, "left_semi")

    # Per-key ordered sequence: the current version (as a pseudo-change
    # at its own valid_from, ordered before any real change at the same
    # instant) followed by the batch's changes.
    base = touched.select(
        key_col, *attr_cols,
        F.col(from_col).alias("_ts"), F.lit(0).alias("_src"),
        # Tiebreak columns keep their native type (string CDC sequence
        # ids order correctly; a cast('long') would null them silently).
        *[
            F.lit(None).cast(changes.schema[c].dataType).alias(f"_o_{c}")
            for c in order_cols
        ],
    )
    # Stale-change guard (see docstring): keep a change only if its key
    # is new or its ts is not before the open version's start. The
    # per-key valid_from frame is bounded by the changed-key set, so it
    # broadcasts.
    cur_from = touched.select(key_col, F.col(from_col).alias("_cur_from"))
    chg = (
        changes.join(F.broadcast(cur_from), key_col, "left")
        .where(
            F.col("_cur_from").isNull()
            | (F.col(change_ts_col) >= F.col("_cur_from"))
        )
        .select(
            key_col, *attr_cols,
            F.col(change_ts_col).alias("_ts"), F.lit(1).alias("_src"),
            *[F.col(c).alias(f"_o_{c}") for c in order_cols],
        )
    )
    seq = base.unionByName(chg)

    w = Window.partitionBy(key_col).orderBy(
        "_ts", "_src", *[f"_o_{c}" for c in order_cols]
    )
    versioned = (
        seq.withColumn("_prev", F.lag(F.struct(*attrs)).over(w))
        .where(
            # No-op changes drop; null-safe so null attribute values
            # compare like SQL IS DISTINCT FROM (first row: _prev is
            # null, never equal to a real struct, so it always stays).
            ~F.col("_prev").eqNullSafe(F.struct(*attrs))
        )
        .withColumn(to_col, F.lead("_ts").over(w))
        .select(key_col, *attr_cols, F.col("_ts").alias(from_col), to_col)
    )
    return closed.unionByName(untouched).unionByName(versioned)
