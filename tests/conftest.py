import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
# sf0.001 keeps the full-suite parity run fast; set SPARK_GRAFT_PARITY_SF=sf0.01
# to reproduce the driver's exact correctness gate locally.
PARITY_SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return f"{TESTDATA}/{PARITY_SF}"


@pytest.fixture(scope="session")
def spark():
    from multiomix_aws_emr_spark.session import build_session

    spark = build_session(
        app_name="tests", master="local[8]", shuffle_partitions=8
    )
    yield spark
    spark.stop()


@pytest.fixture
def spark_jobs(spark):
    """Run ``fn()`` under a fresh job group; returns ``(fn(), jobs)``
    where ``jobs`` lists, per Spark job the call ran, the task count of
    each of its stages (read back from ``statusTracker``)."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job/stage records arrive through the listener bus: wait until
        # every job of the group reads as finished
        deadline = time.monotonic() + 30
        while True:
            infos = [tracker.getJobInfo(j) for j in sorted(tracker.getJobIdsForGroup(group))]
            done = all(i is not None and i.status == "SUCCEEDED" for i in infos)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        jobs = [
            [tracker.getStageInfo(s).numTasks for s in sorted(i.stageIds)]
            for i in infos
        ]
        return out, jobs

    return run


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        src = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(src):
            # directory-layout copies (tools/make_dirlayout.py): DuckDB
            # needs the part-file glob where Spark takes the dir itself
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    yield con
    con.close()
