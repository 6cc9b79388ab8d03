"""join_runtime_bloom: Catalyst runtime bloom-filter injection.

Three contracts:
1. The optimizer plan for the declared query contains the injected
   ``bloom_filter_agg``/``might_contain`` pair on the fact side — the
   row-level runtime filter that prunes the 100 TB fact scan BEFORE its
   shuffle. Its ``extra_confs`` are live from the build onward.
2. The filter is semantics-free: bloom filters are false-positive-only, so
   the result set is identical with injection disabled (the equi-join
   re-checks every surviving row).
3. The ``extra_confs`` hold only until the next declared build: that build
   puts the session's broadcast threshold and bloom gates back (suites
   must not inherit autoBroadcastJoinThreshold=-1).
"""

import pytest
from pyspark.sql import functions as F

from multiomix_aws_emr_spark.queries.registry import QUERIES
from multiomix_aws_emr_spark.queries.relational import _RUNTIME_BLOOM_CONFS

BLOOM_QID = "join_runtime_bloom"
#: a cheap declared query without ``extra_confs``
PLAIN_QID = "join_broadcast"


@pytest.fixture(autouse=True)
def _restore_session_confs(spark, sf_dir):
    # the bloom confs stay live until the next declared build; build one
    # so later tests plan under the session's own values
    yield
    QUERIES[PLAIN_QID](spark, sf_dir)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_plan_has_injected_bloom_filter(spark, sf_dir):
    df = QUERIES[BLOOM_QID](spark, sf_dir)
    plan = _optimized(df)
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan


def test_no_injection_without_scoped_confs(spark, sf_dir):
    # the negative control: re-planned (a fresh QueryExecution over the
    # same plan) after the next declared build has put the session's own
    # gates back (10 GB application-side scan), the same logical frame
    # does NOT qualify at fixture scale — proving the injection comes from
    # the query's confs, not a plan accident
    df = QUERIES[BLOOM_QID](spark, sf_dir)
    assert "bloom_filter_agg" in _optimized(df)
    QUERIES[PLAIN_QID](spark, sf_dir)
    assert "bloom_filter_agg" not in _optimized(df.select("*"))


def test_scoped_confs_restore_after_action(spark, sf_dir):
    # the bloom build makes all four keys live through its action; the
    # next declared build restores every one to its pre-query value
    QUERIES[PLAIN_QID](spark, sf_dir)
    before = {k: spark.conf.get(k, None) for k in _RUNTIME_BLOOM_CONFS}
    assert before["spark.sql.autoBroadcastJoinThreshold"] != "-1"
    df = QUERIES[BLOOM_QID](spark, sf_dir)
    live = {k: spark.conf.get(k, None) for k in _RUNTIME_BLOOM_CONFS}
    assert live == _RUNTIME_BLOOM_CONFS
    assert df.count() > 0
    QUERIES[PLAIN_QID](spark, sf_dir)
    after = {k: spark.conf.get(k, None) for k in _RUNTIME_BLOOM_CONFS}
    assert after == before


def test_bloom_filter_is_semantics_free(spark, sf_dir):
    with_bloom = _rows(QUERIES[BLOOM_QID](spark, sf_dir))
    # rebuild the identical plan and run it with injection disabled
    plain = QUERIES[BLOOM_QID](spark, sf_dir)
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    assert "bloom_filter_agg" not in _optimized(plain)
    assert with_bloom == _rows(plain)
    assert len(with_bloom) > 0


def test_scope_propagates_through_derivation(spark, sf_dir):
    # a frame DERIVED from the declared query plans under the same live
    # confs, so composing on it still executes the injected plan
    df = QUERIES[BLOOM_QID](spark, sf_dir).filter(F.col("n_items") > 0)
    assert "bloom_filter_agg" in _optimized(df)
    assert df.count() > 0


def test_oracle_parity(spark, sf_dir, duck):
    from multiomix_aws_emr_spark.queries.registry import ORACLES

    got = _rows(QUERIES[BLOOM_QID](spark, sf_dir))
    want = sorted(map(tuple, duck.sql(ORACLES[BLOOM_QID]).fetchall()))
    assert got == want


def test_dynamic_partition_pruning_in_plan(spark, sf_dir):
    # the partition-granularity sibling: the executed plan's fact scan
    # must carry a dynamicpruning PartitionFilter fed by the dim's
    # broadcast — no conf overrides involved
    df = QUERIES["join_dynamic_partition_prune"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    rows = _rows(df)
    assert {r[0] for r in rows} == {"click", "view"}
