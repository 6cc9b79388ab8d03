"""Blind (random) search feature selection — one shot, fully parallel.

The reference declares BLIND_SEARCH as its second algorithm
(`src/emr.py:10-14`) but never implements it (a TODO, SURVEY.md §7.6).
The semantics are the degenerate BBHA: evaluate N seeded random subsets
and keep the best — no iterations, so the entire search, all-features
baseline included, is ONE pinned evaluation round (one Spark job, one
task per bin) + one bounded collect (n_subsets rows), the embarrassingly
parallel shape Spark likes best. Seeding matches the BBHA star
initialization (subset i from ``random_state * (i + 1)``,
`scripts/metaheuristics.py:524-527`), and selection applies the same
fewer-features tie-break (`:670-681`, R15).
"""

from __future__ import annotations

import time as _time
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession

from multiomix_aws_emr_spark.fs.bbha import (
    BBHAResult,
    FitnessFn,
    _make_evaluator,
    _payload_handle,
    evaluate_round,
    history_row,
    random_mask,
)
from multiomix_aws_emr_spark.fs.fitness import cv_linear_cox_fitness
from multiomix_aws_emr_spark.plans.binpack import sequential_bin_assignment


def run_blind_search(
    spark: SparkSession,
    x: pd.DataFrame,
    time_col: np.ndarray,
    event_col: np.ndarray,
    *,
    n_subsets: int = 30,
    random_state: int = 42,
    n_bins: Optional[int] = None,
    fitness_fn: FitnessFn = cv_linear_cox_fitness,
    use_broadcast: bool = True,
    worst_fitness: Optional[float] = None,
) -> BBHAResult:
    """Evaluate ``n_subsets`` seeded random feature subsets in one pass.

    ``use_broadcast`` mirrors the reference's `--use-broadcast` toggle
    exactly as in :func:`multiomix_aws_emr_spark.fs.bbha.run_bbha`
    (closure-shipped payload when False; identical results). Blind
    search always uses the sequential partitioner — there is no
    iteration history to train a load balancer on."""
    t_start = _time.perf_counter()
    sc = spark.sparkContext
    n_features = x.shape[1]
    if n_bins is None:
        n_bins = max(1, sc.defaultParallelism)

    bc = _payload_handle(sc, x, time_col, event_col, use_broadcast)
    evaluator = (
        _make_evaluator(bc, fitness_fn)
        if worst_fitness is None
        else _make_evaluator(bc, fitness_fn, worst_fitness)
    )
    masks = [
        random_mask(n_features, np.random.RandomState(random_state * (i + 1)))
        for i in range(n_subsets)
    ]
    bins = sequential_bin_assignment(list(range(n_subsets)), n_bins)
    # R34: the reference computes the all-features baseline before
    # EITHER algorithm branch (`scripts/core.py:171-179`), so blind
    # search reports it too — from the same round.
    res = evaluate_round(spark, evaluator, masks, bins, n_bins, baseline=True)
    baseline = history_row(-1, res.pop(0))

    history = [baseline] + [history_row(0, r) for r in res]
    best = min(res, key=lambda r: (-r[1], r[2], r[0]))
    best_mask = masks[best[0]]
    return BBHAResult(
        best_mask=best_mask,
        best_fitness=float(best[1]),
        selected_features=[f for f, b in zip(x.columns, best_mask) if b],
        n_iterations=1,
        execution_time=_time.perf_counter() - t_start,
        history=history,
        baseline_fitness=baseline["fitness"],
    )
