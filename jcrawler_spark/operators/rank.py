"""Deterministic global dense rank — the scalable replacement for a
single-partition `row_number() OVER (ORDER BY ...)` window.

Shape: range-repartition on the sort key (Spark samples the key
distribution — ranges are in key order), sort within partitions, collect the
tiny per-partition count vector, then add `offset[pid] + local_index` via an
Arrow-batched mapInPandas (no per-row Python, no extra shuffle — partition
layout is preserved). Total cost: the range shuffle + one counts job;
everything is distributed and the driver only ever sees one integer per
partition.

When the per-bucket counts are already known (a monotone bucket id over a
known key domain, `pid_expr`), `rank_from_offsets` skips the sampling and
the counts job: it is one window over the bucket id, all in the JVM.

Used by the crawl engine to assign FIFO `order_key`s to newly discovered
frontier rows (SURVEY.md §2.4 T8) — at 10^10-frontier scale a global window
would funnel the wave through one task; this never does."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jcrawler_spark.checkpoints import drop_checkpoints


def with_global_rank(
    df: DataFrame,
    sort_cols: list[str],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int, DataFrame]:
    """Returns (ranked_df, n, checkpoint).

    ranked_df = df + out_col (long rank 0..n-1 ordered by sort_cols);
    checkpoint is the lazy ``localCheckpoint`` the counts job materialized
    and ranked_df reads — callers free it with
    ``checkpoints.drop_checkpoints`` once downstream consumers are done."""
    spark = df.sparkSession
    npart = num_partitions or spark.sparkContext.defaultParallelism
    # checkpoint the input: repartitionByRange runs a SAMPLING pass before
    # the shuffle — without this the (often expensive) upstream pipeline
    # would evaluate twice
    src = df.localCheckpoint(eager=False)
    # bake the partition id into the stored rows: TaskContext.partitionId()
    # is only stable within one consuming stage (a later union/join
    # renumbers partitions), but a column captured at checkpoint time is
    # plan-independent
    parted = (
        src.repartitionByRange(npart, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = parted.groupBy("__pid").count().collect()
    drop_checkpoints([src])  # parted is materialized now
    counts.sort(key=lambda r: r["__pid"])
    offsets: dict[int, int] = {}
    total = 0
    for r in counts:
        offsets[int(r["__pid"])] = total
        total += int(r["count"])
    bc = spark.sparkContext.broadcast(offsets)

    out_fields = [f for f in parted.schema.fields if f.name != "__pid"]
    out_schema = T.StructType(
        out_fields + [T.StructField(out_col, T.LongType(), False)]
    )

    def add_rank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cursors: dict[int, int] = {}
        for b in batches:
            b = b.copy()
            pid = int(b["__pid"].iloc[0]) if len(b) else 0
            nxt = cursors.get(pid, bc.value.get(pid, 0))
            b = b.drop(columns=["__pid"])
            b[out_col] = range(nxt, nxt + len(b))
            cursors[pid] = nxt + len(b)
            yield b

    ranked = parted.mapInPandas(add_rank, schema=out_schema)
    return ranked, total, parted


def pid_expr(key, npart: int, span: int) -> F.Column:
    """Monotone bucket id over a LONG sort key with a KNOWN domain
    [0, span): floor(key * npart / span), clamped. Double math is safe —
    x/span and *npart are monotone non-decreasing, and monotone is all a
    range id needs (two near keys folding into one bucket is fine).

    This replaces repartitionByRange's SAMPLING job when the caller already
    knows the key domain (the crawl engine: successor src_order_keys all
    lie in [0, order_counter)) — the round-5 inline-rank path."""
    p = F.floor(key.cast("double") * F.lit(float(npart)) / F.lit(float(max(span, 1))))
    return F.greatest(F.lit(0), F.least(F.lit(npart - 1), p)).cast("int")


def rank_from_offsets(
    df: DataFrame,
    sort_cols: list[str],
    offsets: dict[int, int],
    out_col: str = "rank",
    pid_col: str = "__pid",
) -> DataFrame:
    """Dense global rank when per-pid counts are ALREADY known (the engine
    folds the counts into its lineage collect — zero extra jobs here):
    ``offsets[pid] + row_number() OVER (PARTITION BY pid ORDER BY
    sort_cols) - 1``. Because pid is monotone in the leading sort key and
    offsets accumulate the counts in pid order, that is the global rank
    over ``sort_cols``. One hash shuffle on pid and one sort, all in the
    JVM: no Python worker on the path."""
    off = F.create_map(
        *[
            x
            for pid, o in sorted(offsets.items())
            for x in (F.lit(pid), F.lit(o).cast("long"))
        ]
    )
    w = Window.partitionBy(pid_col).orderBy(*sort_cols)
    return df.withColumn(
        out_col,
        F.element_at(off, F.col(pid_col)) + F.row_number().over(w) - 1,
    ).drop(pid_col)
