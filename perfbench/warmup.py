"""The benchmark's one warm-up, shared by every workload.

Each part pays a first-use cost once, before the first op, so it is not
charged to whichever op happens to run first:

- ``scans``: first scan of every input file of the workload (parquet
  tables through ``sources.tables.load``, TSVs through the CSV reader):
  file listing, footers, schema inference, scan codegen;
- ``udf_pool``: the Python worker pool, one worker per core importing
  pandas, numpy and pyarrow;
- ``streaming``: the Structured Streaming runtime, through
  ``streaming.util.prewarm_streaming_runtime``.

A workload names the parts it needs. Every part fails loudly: the
engine's streaming pre-warm swallows its own errors by design, so this
wrapper checks that the pre-warm stream actually ran and terminated
cleanly, and raises otherwise.
"""

from __future__ import annotations

import os
import time


def warm_up(spark, data_dir: str, parts, files, events=None) -> float:
    """Run the named warm-up parts over the input ``files`` (names in
    ``data_dir``); return the seconds they took. ``events`` (a
    ``harness.StreamEvents``) is required for the ``streaming`` part."""
    t0 = time.perf_counter()
    if "scans" in parts:
        from multiomix_aws_emr_spark.sources.tables import load

        for name in files:
            if name.endswith(".tsv"):
                df = spark.read.csv(os.path.join(data_dir, name), sep="\t", header=True)
            else:
                df = load(spark, data_dir, name.removesuffix(".parquet"))
            df.write.mode("overwrite").format("noop").save()
    if "udf_pool" in parts:

        def _identity(batches):  # local, so it is pickled by value
            yield from batches

        n = spark.sparkContext.defaultParallelism
        spark.range(0, 10_000, 1, n).mapInPandas(_identity, schema="id long").write.mode(
            "overwrite"
        ).format("noop").save()
    if "streaming" in parts:
        from multiomix_aws_emr_spark.streaming.util import prewarm_streaming_runtime

        run_ids = events.begin()
        prewarm_streaming_runtime(spark, data_dir)
        if not run_ids:
            raise RuntimeError("streaming warm-up started no query")
        events.drain(run_ids)
        failed = {r: events.terminated[r] for r in run_ids if events.terminated[r]}
        if failed:
            raise RuntimeError(f"streaming warm-up query failed: {failed}")
    return time.perf_counter() - t0
