"""The one materialization primitive: ``caching.materialize``."""

from otel_arrow_adapter_spark.caching import materialize


def test_materialize_flattens_frees_consumed_and_unpersists(spark):
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    lazy = spark.range(20).withColumnRenamed("id", "k").persist()
    prior = materialize(spark.range(10).withColumnRenamed("id", "k"))
    prior_rdd = prior._jdf.queryExecution().analyzed().rdd().id()
    out = materialize(lazy.join(prior, "k"), lazy, prior)
    assert out._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRDD"
    assert out.count() == 10
    # both kinds of consumed frame are freed: the lazy persist and the
    # earlier materialization
    assert not lazy.storageLevel.useMemory and not lazy.storageLevel.useDisk
    assert prior_rdd not in set(sc._jsc.getPersistentRDDs().keys())
    # the result is the only storage left, and unpersist() frees it
    assert len(set(sc._jsc.getPersistentRDDs().keys()) - before) == 1
    out.unpersist()
    assert set(sc._jsc.getPersistentRDDs().keys()) - before == set()
