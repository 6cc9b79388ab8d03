"""Query registry: maps qid -> (spark, sf_dir) -> DataFrame plus oracle SQL.

Every declared query from SURVEY.md §2.2 registers itself here via the
:func:`query` decorator. ``ORACLES`` holds the DuckDB-runnable ANSI SQL for
the oracle-checked subset; rows-only queries register with ``oracle=None``.

The registered callable first applies the runtime conf baseline
(session.configure) so the driver's own SparkSession reads the fixtures
correctly, then sets the query's own confs, then delegates to the
implementation and returns its DataFrame as is.

The one contract: a declared query's confs hold from its build until the
next declared query's build. Spark confs are session-scoped and read when
a job is planned and submitted, so a caller forces each declared frame
before it builds the next one (every caller in this repository does).

The confs a build sets:

- ``spark.sql.shuffle.partitions``. Wide-state shapes carry a
  ``sizing_hint`` — a callable ``(sf_dir) -> widest-exchange byte
  estimate`` (usually ``session.parquet_bytes`` of the shuffled fact
  table, times the fan-out for exploding plans). The estimate goes
  through ``session.sized_shuffle_partitions`` (BASELINE.md rule 2);
  unhinted queries restore the session's baseline count, so a hint never
  leaks into the next query of a shared-session suite. Sub-GB estimates
  floor at the baseline, so fixture-scale plans are byte-identical with
  or without the hint — the hint only acts at real volume (the 1000x
  probes), where it reproduces the hand-tuned winners hands-free.
- ``extra_confs``. Every key that any declared query lists is set to this
  query's value, or, when this query does not list it, back to the
  session's value from before any declared query set it.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from multiomix_aws_emr_spark.session import (
    configure,
    executor_task_share_bytes,
    sized_shuffle_partitions,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
SIZING_HINTS: dict[str, Callable[[str], int]] = {}

_SHUFFLE_CONF = "spark.sql.shuffle.partitions"

#: every conf key some declared query lists in ``extra_confs``
_EXTRA_KEYS: set[str] = set()


def _apply_sizing(
    spark: SparkSession, hint: Optional[Callable[[str], int]], sf_dir: str
) -> str:
    """Set the shuffle partition count for one declared query:
    rule-2-sized when a hint estimate clears the session baseline, the
    baseline otherwise (which also un-does a previous query's hint).
    Returns the resolved count (a string, conf-value form)."""
    sc = spark.sparkContext
    # The baseline is captured eagerly at session build/configure time
    # (session.build_session / session.configure — ADVICE r10: a lazy
    # first-execution capture could freeze in a caller's temporary conf
    # override). The fallback below only serves direct _apply_sizing
    # calls on sessions that never passed through either.
    baseline = getattr(sc, "_maes_shuffle_baseline", None)
    if baseline is None:
        baseline = spark.conf.get(_SHUFFLE_CONF)
        sc._maes_shuffle_baseline = baseline
    n = None
    if hint is not None:
        try:
            # Floor/wave on the SESSION's configured parallelism, not the
            # machine core count: "sf0.1 plans unchanged" means a sub-GB
            # estimate must yield exactly the baseline the session runs at.
            # Per-task share comes from the executor sizing confs when set
            # (multi-JVM masters), else the env driver heap (single-JVM).
            n = sized_shuffle_partitions(
                hint(sf_dir),
                cores=int(baseline),
                per_task_share_bytes=executor_task_share_bytes(spark),
            )
        except (OSError, ValueError):
            n = None  # unreadable path / non-numeric baseline: keep baseline
    target = str(n) if n is not None and n > int(baseline) else str(baseline)
    if spark.conf.get(_SHUFFLE_CONF) != target:
        spark.conf.set(_SHUFFLE_CONF, target)
    return target


def _apply_extras(spark: SparkSession, extras: Optional[dict]) -> None:
    """Set each key of :data:`_EXTRA_KEYS` to this query's ``extras``
    value, or back to the session's value from before the first declared
    build (``None``: the key was not set, so it is unset again)."""
    saved = getattr(spark, "_maes_conf_baseline", None)
    if saved is None:
        saved = spark._maes_conf_baseline = {}
    for key in _EXTRA_KEYS:
        if key not in saved:
            saved[key] = spark.conf.get(key, None)
        value = (extras or {}).get(key, saved[key])
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def fact_bytes(table: str, fanout: float = 1.0) -> Callable[[str], int]:
    """Sizing-hint factory: on-disk bytes of ``{sf_dir}/{table}.parquet``
    times ``fanout`` (the row-expansion multiplier for exploding plans —
    shingles, array explode — per the rule-2 contract that
    ``shuffle_bytes`` estimates the bytes ENTERING the widest exchange)."""
    from multiomix_aws_emr_spark.session import parquet_bytes

    def hint(sf_dir: str) -> int:
        return int(parquet_bytes(os.path.join(sf_dir, f"{table}.parquet")) * fanout)

    return hint


def query(
    name: str,
    oracle: Optional[str] = None,
    sizing_hint: Optional[Callable[[str], int]] = None,
    extra_confs: Optional[dict] = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query (and its DuckDB oracle, if hash-checkable).

    Building the query sets its confs for the session; they hold until the
    next declared query's build (see the module docstring).

    ``sizing_hint``: optional ``(sf_dir) -> bytes`` estimate of the widest
    exchange for wide-state shapes, resolved to
    ``spark.sql.shuffle.partitions``.

    ``extra_confs``: optional conf key -> value dict for optimizer
    behaviors read when the job is planned — e.g. runtime bloom-filter
    injection thresholds. The next declared build that does not list a
    key puts it back to the session's own value."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            _apply_sizing(spark, sizing_hint, sf_dir)
            _apply_extras(spark, extra_confs)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        if sizing_hint is not None:
            SIZING_HINTS[name] = sizing_hint
        _EXTRA_KEYS.update(extra_confs or ())
        return wrapped

    return deco
