"""Session-lifetime persist hygiene (r13 verdict ask #6): repeated
invocations of queries that persist() intermediate frames must not grow
the session's cached-RDD set — each call site releases its previous
invocation's frame via session.managed_persist."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.mark.parametrize(
    "qname",
    ["llm_bm25_topk", "llm_lm_score", "osm_admin_hierarchy", "llm_jaccard_pairs"],
)
def test_no_session_lifetime_cache_growth(spark, qname):
    from osmdatapy_spark.suite import QUERY_REGISTRY

    fn = QUERY_REGISTRY[qname].fn
    counts = []
    for _ in range(3):
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        counts.append(_n_cached(spark))
    # the LAST invocation's frames may legitimately still be registered
    # (they are part of the returned plan); growth across invocations is
    # the leak the managed persist exists to stop
    assert counts[2] <= counts[0], (
        f"{qname}: cached-RDD count grew across invocations: {counts}"
    )


def test_managed_persist_replaces_previous(spark):
    from osmdatapy_spark.session import managed_persist, release

    base = _n_cached(spark)
    df1 = managed_persist(spark.range(10), "test.hygiene")
    df1.count()
    assert _n_cached(spark) == base + 1
    df2 = managed_persist(spark.range(20), "test.hygiene")
    df2.count()
    # df1 was released when df2 registered under the same key
    assert _n_cached(spark) == base + 1
    release("test.hygiene")
    assert _n_cached(spark) == base
    # release() is idempotent and tolerates unknown keys
    release("test.hygiene")
    release()
