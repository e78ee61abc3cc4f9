"""Every query builder must be lazy: constructing the DataFrame may not
trigger a Spark job (the regression class caught in round 1, where
txt_tfidf_top_term ran docs.count() at plan-build time).

Exclusions, by documented design:
- st_*          streaming adapters execute the stream to completion
- dedup_components  iterative algorithm (per-round convergence actions)
- dedup_survivors_quality  composes dedup_components (same loop)
- txt_pagerank  checkpoints the pair graph once before the unrolled
  iterations (one eager job; the iterations themselves are lazy)
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

EXCLUDED_PREFIXES = ("st_",)
EXCLUDED = {
    "dedup_components",
    "dedup_components_lsh",
    "dedup_survivors_quality",
    "txt_pagerank",
    # composes connected_components (the same per-round convergence
    # actions as dedup_components) over the mutual-kNN edge set
    "sim_knn_components",
}

QUERIES = entrymod.queries()

LAZY_QUERIES = sorted(
    n
    for n in QUERIES
    if n not in EXCLUDED and not n.startswith(EXCLUDED_PREFIXES)
)


def _jobs_run(spark) -> int:
    # dagScheduler.nextJobId is the monotonically increasing job counter
    # (py4j returns the unboxed int); its delta across a code block
    # counts jobs submitted by that block.
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.mark.parametrize("name", LAZY_QUERIES)
def test_build_triggers_no_job(spark, sf_dir, name):
    before = _jobs_run(spark)
    QUERIES[name](spark, sf_dir)
    after = _jobs_run(spark)
    assert after == before, (
        f"{name} ran {after - before} Spark job(s) during query "
        f"construction — plan building must be lazy (no driver-side "
        f"count()/collect() while composing the DataFrame)"
    )
