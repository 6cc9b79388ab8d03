"""Per-query rule-2 sizing hints (queries/registry._apply_sizing):
wide-state declared shapes size their shuffle partition count from the
widest-exchange byte estimate hands-free; fixture-scale estimates floor
to the session baseline so plans are unchanged; hints never leak into
the next (unhinted) query of a shared session."""

import re

from pyspark.sql import functions as F

from multiomix_aws_emr_spark.queries import QUERIES
from multiomix_aws_emr_spark.queries.registry import (
    SIZING_HINTS,
    _apply_sizing,
    fact_bytes,
    query,
)

CONF = "spark.sql.shuffle.partitions"


def _baseline(spark):
    return getattr(spark.sparkContext, "_maes_shuffle_baseline", None) or (
        spark.conf.get(CONF)
    )


def test_wide_shapes_carry_hints():
    for qid in (
        "sql_large_volume_customer",
        "flagship_revenue_by_region",
        "dedup_near_minhash",
        "pipeline_curation_v3",
        # r11: measured fan-outs (tools/fanout_probe.py)
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "text_unigram_rarity",
    ):
        assert qid in SIZING_HINTS, f"{qid} lost its sizing hint"
        assert qid in QUERIES


def test_fixture_scale_floors_to_baseline(spark, sf_dir):
    """Sub-GB estimates must leave the session count untouched — the
    r8 lesson that raising the count on small state is a pure loss."""
    before = spark.conf.get(CONF)
    df = QUERIES["sql_large_volume_customer"](spark, sf_dir)
    assert spark.conf.get(CONF) == before
    assert df.count() >= 0  # plan executes at the unchanged count


def test_large_estimate_sizes_and_next_query_restores(spark, sf_dir):
    base = _baseline(spark)
    # 14 GB fact on the default heap -> well above the 8-core baseline
    _apply_sizing(spark, lambda _sf: 14 << 30, sf_dir)
    sized = int(spark.conf.get(CONF))
    assert sized > int(base)
    assert sized % 8 == 0  # whole waves of the local[8] test session
    # an unhinted query must restore the baseline (no leak)
    _apply_sizing(spark, None, sf_dir)
    assert spark.conf.get(CONF) == base


def test_unreadable_hint_path_falls_back(spark):
    base = _baseline(spark)
    _apply_sizing(
        spark, fact_bytes("lineitem"), "/nonexistent/sf_dir"
    )
    assert spark.conf.get(CONF) == base


def test_fact_bytes_applies_fanout(tmp_path):
    d = tmp_path / "documents.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 1000)
    assert fact_bytes("documents")(str(tmp_path)) == 1000
    assert fact_bytes("documents", fanout=3.0)(str(tmp_path)) == 3000


def test_hint_engages_at_volume_math():
    """The Q18 hint must reproduce the recorded hands-free winner: a
    14 GB lineitem at 32 cores / 48g heap sizes to 160 (within 4% of the
    hand-tuned 256 record, 1.2x over the core-count default)."""
    from multiomix_aws_emr_spark.session import sized_shuffle_partitions

    assert (
        sized_shuffle_partitions(
            14_142_382_155, cores=32, heap_bytes=48 << 30
        )
        == 160
    )


def test_registry_rejects_nothing_extra():
    # hints are a strict subset of declared queries
    assert set(SIZING_HINTS) <= set(QUERIES)


def test_declared_build_sizes_executed_exchange(spark, sf_dir):
    """End-to-end through the registry wrapper: building a hinted
    declared query sets its sized count, the executed plan's exchange
    carries it, and the next unhinted declared build restores the
    baseline."""
    base = _baseline(spark)
    qid = "test_sizing_hints_14gb"

    @query(qid, sizing_hint=lambda _sf: 14 << 30)
    def _wide(spark, sf_dir):
        return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    try:
        df = QUERIES[qid](spark, sf_dir)
        sized = spark.conf.get(CONF)
        assert int(sized) > int(base)
        assert len(df.collect()) == 7
        plan = df._jdf.queryExecution().executedPlan().toString()
        exchange = rf"Exchange hashpartitioning\(\w+#\d+L?, {sized}\)"
        assert re.search(exchange, plan), plan
    finally:
        del QUERIES[qid], SIZING_HINTS[qid]
    QUERIES["agg_stats"](spark, sf_dir)
    assert spark.conf.get(CONF) == base


def test_rebuilt_session_rekeys_baseline(spark):
    """A session rebuilt in-process with a different sizing must not
    serve the previous build's cached baseline (VERDICT r10 nit 2)."""
    from multiomix_aws_emr_spark.session import build_session

    sc = spark.sparkContext
    orig = sc._maes_shuffle_baseline
    try:
        s2 = build_session(master="local[8]", shuffle_partitions=12)
        assert s2.sparkContext._maes_shuffle_baseline == "12"
        assert s2.conf.get(CONF) == "12"
    finally:
        build_session(master="local[8]", shuffle_partitions=int(orig))
    assert sc._maes_shuffle_baseline == orig
    assert spark.conf.get(CONF) == orig


def test_memory_fraction_respected():
    """Clusters tuned away from spark.memory.fraction=0.6 get a share
    derived from their own fraction (ADVICE r10)."""
    from multiomix_aws_emr_spark.session import executor_task_share_bytes

    class _Conf:
        def __init__(self, vals):
            self._v = vals

        def get(self, key, default=None):
            if key in self._v:
                return self._v[key]
            if default is not None:
                return default
            raise KeyError(key)

    class _S:
        def __init__(self, vals):
            self.conf = _Conf(vals)

    tuned = executor_task_share_bytes(
        _S(
            {
                "spark.executor.memory": "10g",
                "spark.executor.cores": "5",
                "spark.memory.fraction": "0.8",
            }
        )
    )
    assert tuned == int((10 << 30) * 0.8 / 5)


def test_executor_task_share_from_confs(spark):
    """Multi-JVM sizing: when executor memory+cores are set (the cluster
    submission convention) the per-task share derives from them; absent
    either conf, None (fall back to the driver-heap proxy)."""
    from multiomix_aws_emr_spark.session import executor_task_share_bytes

    class _Conf:
        def __init__(self, vals):
            self._v = vals

        def get(self, key, default=None):
            if key in self._v:
                return self._v[key]
            if default is not None:
                return default
            raise KeyError(key)

    class _S:
        def __init__(self, vals):
            self.conf = _Conf(vals)

    share = executor_task_share_bytes(
        _S({"spark.executor.memory": "12288m", "spark.executor.cores": "8"})
    )
    assert share == int((12288 << 20) * 0.6 / 8)  # 921.6 MB
    assert executor_task_share_bytes(_S({})) is None
    assert (
        executor_task_share_bytes(_S({"spark.executor.memory": "12g"}))
        is None
    )
    # the local test session sets neither -> driver-heap proxy path
    assert executor_task_share_bytes(spark) is None


def test_executor_share_picks_cluster_true_count():
    """Q18 1000x on local-cluster[4,8,12288]: executor-derived share
    (921.6 MB/task) sizes to 160 — the same count the 48g single-JVM
    derivation picks — where the 8g driver-heap proxy said 960."""
    from multiomix_aws_emr_spark.session import sized_shuffle_partitions

    by_exec = sized_shuffle_partitions(
        14_142_382_155,
        cores=32,
        per_task_share_bytes=int((12288 << 20) * 0.6 / 8),
    )
    assert by_exec == 160
    by_driver_proxy = sized_shuffle_partitions(
        14_142_382_155, cores=32, heap_bytes=8 << 30
    )
    assert by_driver_proxy == 896  # ~6x over-split vs the true share


