"""Lifecycle of lazy ``localCheckpoint`` intermediates, shared by the crawl
engine and the iterative operators (graph BFS, connected components, the
global rank).

A lazy ``localCheckpoint(eager=False)`` turns a frame into a ``LogicalRDD``
leaf: the first job that reads it stores its partitions on the executors,
and every later plan over it starts from those blocks instead of
re-planning (and re-running) the lineage under it. The blocks belong to
the RDD under that leaf, not to the cache manager, so
``DataFrame.unpersist`` never reaches them; ``drop_checkpoints`` frees them
through the RDD."""

from __future__ import annotations

from pyspark.sql import DataFrame


def drop_checkpoints(held: list[DataFrame], keep: tuple = ()) -> None:
    """Free the stored blocks of the ``localCheckpoint``-ed frames in
    ``held`` that are not in ``keep`` (compared by identity). Without this
    the blocks stay until the JVM happens to collect the RDD."""
    for df in held:
        if all(df is not k for k in keep):
            df._jdf.queryExecution().logical().rdd().unpersist(False)
