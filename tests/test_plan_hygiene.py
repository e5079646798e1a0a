"""Whole-registry physical-plan hygiene sweep.

Individual plan-shape tests pin specific strategies (broadcast, pushdown,
TakeOrdered, exchange-free bucketed SMJ, Python-free Tier B). This sweep
guards the whole surface against the silent catastrophic regressions: an
accidental CartesianProduct (a join that lost its equi-condition) — the
difference between O(n) and O(n²) at 100 TB — and a builder that starts
running Spark jobs while it builds its plan.
"""

from __future__ import annotations

from stock_data_pipeline_spark import registry

# Builders that run Spark jobs at build time (registry.py's pure-builder
# rule): checkpointed inputs read twice (b51, b53, b85, b88), iterative
# c02 rounds, trained c03 indexes and c04 merge rounds. Every other
# builder only constructs a plan, except b05, which writes its bucketed
# tables on its first call per process and data dir, so whether this
# sweep sees its jobs depends on which tests ran before it.
WRITE_ONCE_BUILDERS = {"b05_bucketed_join"}
EAGER_BUILDERS = {
    "b51_pairwise_corr",
    "b53_market_beta",
    "b85_point_in_time",
    "b88_pairs_spread",
    "c02_dedup_clusters",
    "c02_near_dedup_banded",
    "c02_near_dedup_corpus",
    "c03_ann_ivf",
    "c03_pq_topk",
    "c03_semdedup",
    "c04_bpe_merges",
    "c04_bpe_token_counts",
}


def test_no_cartesian_product_in_any_registered_query(spark, sf_dir):
    """A CartesianProduct node means a join condition was dropped.
    BroadcastNestedLoopJoin against a 1-row aggregate (the n_docs /
    count-scalar pattern) is fine and deliberately allowed; an actual
    CartesianProduct is never fine. The same sweep counts the jobs each
    builder runs (one job group per build): apart from the write-once
    b05, the builders that run any are exactly ``EAGER_BUILDERS``."""
    sc = spark.sparkContext
    offenders, eager = {}, set()
    for name, fn in registry.full_queries().items():
        group = f"plan-hygiene-{name}"
        sc.setJobGroup(group, name)
        try:
            df = fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if sc.statusTracker().getJobIdsForGroup(group):
            eager.add(name)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
    assert not offenders, offenders
    eager -= WRITE_ONCE_BUILDERS
    assert eager == EAGER_BUILDERS, (
        sorted(eager - EAGER_BUILDERS),
        sorted(EAGER_BUILDERS - eager),
    )
