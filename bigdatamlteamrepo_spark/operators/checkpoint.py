"""The engine's one lineage-cut primitive.

Every place the engine materializes a frame and severs its lineage —
an iterative loop's round state (LPA, k-core peel, PageRank, star
contraction), a frame several consumers read (band tables, shingle
sets, verified pair lists), a pipeline stage's survivors — goes
through :func:`truncate`; no other module calls
``DataFrame.localCheckpoint`` or ``DataFrame.checkpoint`` (pinned by
``tests/test_lineage_cuts.py``).  The storage policy therefore lives
here and nowhere else:

* with a reliable checkpoint directory configured
  (``spark.sparkContext.setCheckpointDir`` — HDFS/S3 in production),
  every cut writes THERE and survives executor loss;
* otherwise every cut is an executor-local ``localCheckpoint`` — fine
  on one machine, but at cluster scale a single lost executor
  invalidates its blocks, and a truncated lineage can no longer be
  replayed.

Results are identical under both modes (pinned in
``tests/test_graph_convergence.py`` for the graph loops, the
neardup summary and the corpus build); only the storage and fault
story differ.  Local mode is the default, and a cluster deployment
opts in with one ``setCheckpointDir`` line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and sever its lineage: reliable
    ``checkpoint`` when a checkpoint dir is configured, executor-local
    ``localCheckpoint`` otherwise.

    ``eager=True`` runs a job now — loops need the round's work done
    before the next round plans on it, and a frame whose first
    consumers run concurrently (both sides of a self-join) must not be
    computed once per consumer.  ``eager=False`` is for a frame whose
    next action reads it sequentially anyway: that first job fills the
    checkpoint, so the dedicated materialization barrier disappears
    and reuse semantics are unchanged."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
