"""The engine-wide lineage-cut policy, in ONE place.

Catalyst does not dedupe shared subplans: a DataFrame subtree with two
or more downstream consumers is re-executed per reference (see
``operators/dedup._minhash_candidates`` for a measured instance, 1.80
→ 1.64 s at sf0.1). When the subtree is expensive and its result is
small-to-moderate, the engine cuts the lineage once so every consumer
reads the materialized blocks instead of recomputing the subtree.
:func:`lineage_cut` is the single policy point, so a cluster
deployment swaps the mechanism in ONE place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def lineage_cut(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage so a plan that fans out to several
    consumers materializes the subtree ONCE instead of once per
    consumer (Catalyst re-executes shared subplans per reference).

    Mechanism: ``localCheckpoint`` — blocks live on the executors'
    block managers, the logical plan is replaced by an ``ExistingRDD``
    scan (the plan pins in ``tests/test_plans.py`` tolerate that scan
    shape). ``eager=False`` (the default) defers materialization so
    schema-only enumerations — the registry dump, ``.explain()``
    sweeps — never pay it; pass ``eager=True`` when the caller needs
    the blocks pinned before the plan fans out in the SAME action
    (e.g. a streaming store reused across micro-batches).

    CAVEAT (single-node bench optimization, not a resilience
    feature): localCheckpoint stores blocks NON-RELIABLY on executors
    — on executor loss the truncated lineage cannot recompute and the
    job fails — and it pins the pre-AQE plan. A fault-tolerant
    cluster deployment would swap in, HERE, one of: reliable
    ``checkpoint()`` against a durable checkpoint dir, a persisted
    table (the production form for reused stores — see
    ``streaming/neardup.compact_store_bands``), or no cut at all
    (paying the recompute). Blocks are session-scoped and outside the
    cache manager (unreleasable until the RDD is garbage-collected) —
    callers that re-derive the SAME cut repeatedly should persist it and
    hold it in the artifact memo (``functions/artifacts.py``) with
    ``unpersist`` as its release, as ``operators/text._tercile_hist``
    does.
    """
    return df.localCheckpoint(eager=eager)
