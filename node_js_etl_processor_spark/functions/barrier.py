"""The one place a plan is cut.

Every operator that reuses a frame — a self-join's two sides, an
offset aggregation plus the join that applies it, an iterative loop's
next round — cuts the plan there with ``cut(df, name)``. The policy:
an eager ``localCheckpoint``. The frame is computed once, its
partitions are kept in executor block storage, and the plan downstream
starts from an RDD scan with exact size statistics, so Catalyst
neither re-runs the subtree per reference nor guesses a join strategy
from an estimate.

Measured against the alternatives on the 17-query ``analytics_mix``
basket (``perfbench/run.py``, best-pass sums, 4-core host, outputs
equal in every variant): ``localCheckpoint`` 14.3 s, eager ``persist``
plus ``count`` 17.1 s, no barrier 18.3 s.

The cost is fault tolerance. ``localCheckpoint`` truncates lineage
(Zaharia et al., "Resilient Distributed Datasets", NSDI 2012): the
blocks live only on the executors that computed them, so losing an
executor after a cut fails the query instead of recomputing the lost
partitions. Every ``name`` is unique across the package, so a test
can replace ``barrier.cut`` to see the uncut plan of a chosen site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut(df: DataFrame, name: str) -> DataFrame:
    """Compute ``df`` now and return a frame that reads the stored
    result. ``name`` ("<module>.<site>") identifies the cut."""
    return df.localCheckpoint(eager=True)
