"""The JVM pow(x,2)==x*x identity guard behind the seqfold Arrow
kernels (ann._assert_pow_square_identity)."""

from __future__ import annotations

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann


def test_pow_square_identity_holds_and_caches(spark):
    ann._assert_pow_square_identity(spark)  # must not raise on this JVM
    key = ann._context_key(spark.sparkContext)
    assert ann._SEQFOLD_GUARD_OK.get(key) is True
    # cached second call is job-free: drop the flag guard would need
    ann._assert_pow_square_identity(spark)


def test_pow_square_guard_conf_off(spark):
    try:
        spark.conf.set("spark.spark_graft.seqfold_guard", "off")
        saved = dict(ann._SEQFOLD_GUARD_OK)
        ann._SEQFOLD_GUARD_OK.clear()
        ann._assert_pow_square_identity(spark)  # skipped: no memo entry
        assert not ann._SEQFOLD_GUARD_OK
        ann._SEQFOLD_GUARD_OK.update(saved)
    finally:
        spark.conf.unset("spark.spark_graft.seqfold_guard")


def test_pow_square_guard_reruns_for_a_new_context(spark, monkeypatch):
    """A stopped context's memo entry must not vouch for the context
    started after it, even when CPython hands the new SparkContext the
    old one's id(). The new context is simulated on the live one (same
    object, so the same id) by giving it a new application id and start
    time: stopping the real context would end the test session's."""
    from pyspark import SparkContext

    ann._assert_pow_square_identity(spark)
    sc = spark.sparkContext
    old_id, old_key = id(sc), ann._context_key(sc)
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: "app-after-restart"))
    monkeypatch.setattr(SparkContext, "startTime", property(lambda self: old_key[1] + 1))
    ranges = []
    monkeypatch.setattr(spark, "range", lambda *a: ranges.append(a) or type(spark).range(spark, *a))
    ann._assert_pow_square_identity(spark)
    assert id(spark.sparkContext) == old_id
    assert len(ranges) == 1  # the guard job ran again
    ann._assert_pow_square_identity(spark)
    assert len(ranges) == 1  # and is memoized for the new context
    ann._SEQFOLD_GUARD_OK.pop(("app-after-restart", old_key[1] + 1))
