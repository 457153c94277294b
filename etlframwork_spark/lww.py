"""Last-writer-wins (LWW): the engine's one ordering rule, in one place.

Per key (the table's key columns), the winning row is the GREATEST by

1. the table's order column (the commit LSN),
2. then ``commit`` when the table has that column (unique per event, so
   the order is total),
3. then a delete-beats-live priority: at an IDENTICAL (lsn, commit) a
   delete/tombstone wins. Such ties between non-identical rows arise only
   from out-of-band corrections that stamp a tombstone at the victim's
   own order (``delete_where``), and again downstream when
   ``read_changes`` propagates that delete into a table holding the
   identical live row. Without the priority the winner would depend on
   partition/merge order: a re-delivered original event could resurrect
   a deleted key, and a propagated delete could fail to apply.

Nulls order FIRST (lowest), as in Spark's struct ordering. The rule is
associative and commutative, so partial pre-reduction (map-side, per
epoch, per delta file) never changes the final winner.

Two renderings of the same rule:

* :func:`resolve` — Spark Columns, ``groupBy(keys).agg(max_by(struct(
  values), struct(order)))``. Catalyst plans ``partial_max_by`` below the
  shuffle, so a hot key pre-reduces on every input partition (the skew
  defence pinned in tests/test_plans.py). Used by ``merge_batch`` and
  the merge-on-read path of ``SnapshotTable.read``.
* :func:`resolve_arrow` — a stable Arrow sort (nulls at start) plus the
  last position per key. Used by the DSv2 reader inside one bucket.

:func:`scrub` turns winning deletes into tombstones that keep their place
in this order (``merge_batch`` and ``delete_where``).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def order_cols(order_col: str, columns: Iterable[str]) -> list[str]:
    """The LWW order columns of a table with these ``columns``."""
    return [order_col] + (["commit"] if "commit" in columns else [])


def scrub(
    df: DataFrame,
    deleted: Column,
    schema: StructType,
    key_cols: list[str],
    order_col: str,
    keep: Iterable[str] = (),
) -> DataFrame:
    """Null the payload of the rows ``deleted`` marks (tombstones).

    The key and the FULL order key stay: nulling ``commit`` would let a
    later distinct event at the same lsn beat the tombstone and resurrect
    the key. ``schema`` names the columns to scrub; ``keep`` spares more.
    """
    kept = {*key_cols, *order_cols(order_col, schema.fieldNames()), *keep}
    return df.withColumns(
        {
            f.name: F.when(deleted, F.lit(None).cast(f.dataType)).otherwise(F.col(f.name))
            for f in schema.fields
            if f.name not in kept
        }
    )


def resolve(
    df: DataFrame, key_cols: list[str], order_col: str, deleted: Column | None = None
) -> DataFrame:
    """One row per key of ``df`` (all of its columns): the LWW winner.

    ``deleted`` is a boolean Column marking delete/tombstone rows; it only
    decides exact order ties. ``None`` orders by the order columns alone.
    """
    order = [F.col(c) for c in order_cols(order_col, df.columns)]
    if deleted is not None:
        order.append(F.coalesce(deleted, F.lit(False)).cast("int").alias("_lww_pri"))
    winner = F.max_by(F.struct(*[F.col(c) for c in df.columns]), F.struct(*order)).alias("_w")
    return df.groupBy(*key_cols).agg(winner).select("_w.*")


def resolve_arrow(tbl, key_cols: list[str], order_col: str, deleted=None):
    """Arrow twin of :func:`resolve` over a ``pyarrow.Table``.

    ``deleted`` is a boolean Arrow array aligned with ``tbl`` (or ``None``).
    Column types are never converted, so int64 values above 2^53 survive.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    sort_keys = [(c, "ascending") for c in order_cols(order_col, tbl.column_names)]
    work = tbl
    if deleted is not None:
        work = work.append_column("_lww_pri", pc.cast(pc.fill_null(deleted, False), pa.int8()))
        sort_keys.append(("_lww_pri", "ascending"))
    ordered = tbl.take(pc.sort_indices(work, sort_keys=sort_keys, null_placement="at_start"))
    pos = ordered.select(key_cols).append_column("_pos", pa.array(np.arange(len(ordered))))
    last = pos.group_by(key_cols).aggregate([("_pos", "max")])
    return ordered.take(last["_pos_max"])
