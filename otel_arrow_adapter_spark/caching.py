"""The one way the library stores an intermediate frame: ``materialize``.

Library functions materialize a frame when later plans read it more than
once: loop state (label propagation, Lloyd rounds, BPE merges), verdict
and shingle tables several plans share, and every result they hand out.
Left alone, that storage lives for the whole session — harmless at
sf0.01, a real memory accrual in a long-lived 100 TB session (the
reference frees its builders per batch; Spark storage is explicit).

``materialize(df, *consumed)`` is the single ownership rule: it stores
``df``, frees each frame its plan consumed, and hands the one remaining
materialization to the caller, who calls ``unpersist()`` when done. Every
frame the library returns frees itself that way, whatever built it; after
the caller's ``unpersist()`` the session holds no new persistent RDDs
(asserted by tests/test_functions.py::test_no_lingering_caches_*).

Storage is ``localCheckpoint(eager=True)``, not persist()+count(): both
run exactly one job over the same plan, but the checkpoint TRUNCATES the
lineage to a flat LogicalRDD while persist() only short-circuits
execution — every later action on a persisted frame still re-analyzes the
full nested logical plan (Catalyst + AQE walk the whole tree before the
CacheManager substitutes the cache). Measured on the LSH->Jaccard->CC
chain at sf0.1: the connected-components edges materialization alone paid
2.3 s of pure re-analysis of the already-cached pair-finder lineage; with
checkpoint-truncated results the same step is ~0.2 s and the chain drops
8.8 s -> 6.1 s end to end. In an iterative loop the nesting compounds:
on a 13-node chain graph, persisted label-propagation rounds climbed
1.1 s -> 9.7 s by round 10 (plan rendering, generateTreeString,
dominates; at cluster scale a driver OOM), while checkpointed rounds stay
flat at ~0.6 s (guide §1.2: fix the per-action planning cost that grows
with lineage depth).

A lazy ``persist()`` remains right for a frame that ONE plan reads
several times (a self-join's two sides): it costs no job of its own and
is released through ``consumed`` once the plan's result materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


class Materialized(ClassicDataFrame):
    """A local-checkpointed frame whose ``unpersist()`` frees its storage.

    Checkpoint storage lives at RDD level, which the Dataset-level
    ``unpersist()`` / CacheManager never sees; this frees the RDD behind
    the flat LogicalRDD instead. Transforms return plain frames."""

    def unpersist(self, blocking: bool = False) -> "Materialized":
        self._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
        return self


def materialize(df: DataFrame, *consumed: DataFrame) -> Materialized:
    """Eagerly store ``df`` with a flat lineage, then ``unpersist()`` each
    frame in ``consumed`` (lazy persists and earlier materializations).

    The eager checkpoint runs exactly the job a downstream action would
    run anyway — with the consumed frames still stored — so total compute
    is unchanged; afterwards only the result stays resident, and
    downstream plans see a constant-size LogicalRDD instead of the whole
    producing lineage. The caller owns the result."""
    ck = df.localCheckpoint(eager=True)
    for c in consumed:
        c.unpersist()
    return Materialized(ck._jdf, ck.sparkSession)
