import pytest

from scespet_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    # Test profile: at fixture scale every job is scheduling-bound, so
    # fewer shuffle partitions (fewer state stores per streaming
    # micro-batch, fewer tiny tasks) and no AQE re-optimization rounds
    # cut per-job latency — measured on test_streaming: 465s (8, AQE)
    # -> 360s (2, no AQE), all tests green.  Two task slots match the
    # two shuffle partitions: a local[8] session on a 4-core box ran 8
    # tasks (and 8 Python workers) per stage of a default-parallelism
    # input, and constraint propagation re-derives every plan's
    # constraints at each optimizer pass.  Measured on 8 heavy tests
    # across five files (4 cores): 203s (local[8]) -> 140s (local[2])
    # -> 124s (local[2], no constraint propagation).  The plan tests
    # switch constraint propagation back on (test_plans.py), since they
    # assert the inferred IsNotNull filters it pushes into scans.
    # Bench/production sessions keep engine.get_spark defaults (AQE
    # on, batch Exchanges from max(32, 2x cores) partitions, one live
    # state partition per core); nothing here changes what any test
    # asserts.
    s = get_spark(app_name="scespet-spark-tests", cpus=2,
                  shuffle_partitions=2,
                  extra_conf={"spark.sql.adaptive.enabled": "false",
                              "spark.sql.codegen.wholeStage": "false",
                              "spark.sql.constraintPropagation.enabled":
                                  "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def all_query_dfs(spark):
    """Every declared query CONSTRUCTED once per session, keyed by
    name.  Construction is the expensive part for the model-training
    queries (k-means/PQ/quantile/BPE fits collect model state at
    plan-build time) and for the artifact-served queries (the first
    construction builds the per-process snapshot); two suite members
    sweep the whole surface (plan audit + output-schema pin), and each
    sweep used to rebuild all ~250 queries from scratch.  live_*
    queries EXECUTE a streaming job on call, so they are built here
    once too and shared the same way."""
    import importlib
    import os
    entry = importlib.import_module("__spark_entry__")
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    dfs = {name: fn(spark, sf)
           for name, fn in entry.queries().items()}
    # construction registers operator-family persists (lazy); release
    # them so the fixture leaves no registry residue for later tests
    from scespet_spark.operators._cache import _REGISTRY, release
    for fam in list(_REGISTRY):
        release(fam)
    return dfs
