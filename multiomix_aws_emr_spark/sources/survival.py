"""Survival-data ingestion: molecules/clinical TSV -> DataFrames.

Re-founds the reference reader (`scripts/utils.py:38-63`) on Spark:

- molecules TSV is stored features x samples with the feature id in the
  first column (`utils.py:53` reads it then transposes in pandas). Here the
  transpose is dissolved: the file is unpivoted into the orientation-free
  LONG form (sample_id, feature, value) — the 100 TB representation — and
  the wide samples x features frame (what the reference works on) is a
  pivot away.
- clinical TSV -> (sample_id, event boolean, time double)
  (`utils.py:59-62`, R2).
- clean_wide reproduces `clean_dataset` (`utils.py:26-35`): drop columns
  containing any NaN (R3), drop rows containing ±Inf (R4), cast everything
  to double (R5) — expressed as two scans + a filter, all pushdown-friendly.
- read_survival_matrix is the experiment's ingest. The metaheuristic
  broadcasts the cleaned matrix from the driver (`core.py:167-169`), so
  the matrix must land there anyway: it collects the long form and the
  clinical frame once each and pivots, cleans and joins them in pandas
  with the same rules — one Spark job per input instead of a pivot
  evaluated three times.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomix_aws_emr_spark.session import configure

_INF = float("inf")


def read_molecules_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Molecules TSV (features x samples, `utils.py:53`) -> long form
    (sample_id, feature, value double)."""
    configure(spark)
    raw = spark.read.csv(path, sep="\t", header=True)
    feature_col = raw.columns[0]
    sample_cols = raw.columns[1:]
    long = raw.unpivot(
        ids=[feature_col],
        values=sample_cols,
        variableColumnName="sample_id",
        valueColumnName="_v",
    )
    return long.select(
        "sample_id",
        F.col(feature_col).alias("feature"),
        F.col("_v").cast("double").alias("value"),
    )


def read_clinical_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Clinical TSV -> (sample_id, event boolean, time double)
    (`utils.py:59-62`: structured array 'event bool, time float')."""
    configure(spark)
    raw = spark.read.csv(path, sep="\t", header=True)
    id_col = raw.columns[0]
    return raw.select(
        F.col(id_col).alias("sample_id"),
        F.col("event").cast("boolean").alias("event"),
        F.col("time").cast("double").alias("time"),
    )


def long_to_wide(long: DataFrame, id_col: str = "sample_id") -> DataFrame:
    """(sample_id, feature, value) -> samples x features wide frame
    (the in-memory orientation of the reference after its transpose)."""
    return long.groupBy(id_col).pivot("feature").agg(F.first("value"))


def wide_to_long(wide: DataFrame, id_col: str = "sample_id") -> DataFrame:
    """Inverse of :func:`long_to_wide` (lossless round-trip after clean)."""
    value_cols = [c for c in wide.columns if c != id_col]
    return wide.unpivot(
        ids=[id_col],
        values=value_cols,
        variableColumnName="feature",
        valueColumnName="value",
    )


def clean_wide(wide: DataFrame, id_col: str = "sample_id") -> DataFrame:
    """The reference's `clean_dataset` (`utils.py:26-35`) as DataFrame ops:

    1. drop every feature column containing >= 1 NULL/NaN (pandas
       ``dropna(axis='columns')``, R3) — one aggregate scan to count, then
       a projection;
    2. drop every row containing ±Inf in a surviving column (R4);
    3. cast all feature columns to double (R5).
    """
    feature_cols = [c for c in wide.columns if c != id_col]
    casted = wide.select(
        id_col, *[F.col(c).cast("double").alias(c) for c in feature_cols]
    )
    bad_counts = casted.agg(
        *[
            F.count(
                F.when(F.col(c).isNull() | F.isnan(c), F.lit(1))
            ).alias(c)
            for c in feature_cols
        ]
    ).collect()[0]
    keep = [c for c in feature_cols if bad_counts[c] == 0]

    pruned = casted.select(id_col, *keep)
    if keep:
        finite_row = None
        for c in keep:
            cond = F.abs(F.col(c)) != F.lit(_INF)
            finite_row = cond if finite_row is None else (finite_row & cond)
        pruned = pruned.filter(finite_row)
    return pruned


def read_survival_matrix(
    spark: SparkSession, molecules_path: str, clinical_path: str
) -> tuple[pd.DataFrame, np.ndarray, np.ndarray]:
    """Molecules + clinical TSVs -> (samples x features float64 frame
    indexed and sorted by sample_id, time float64, event bool): the
    reference's load + ``clean_dataset`` + join (`utils.py:26-63`) with
    one collect per file.

    Same result as ``clean_wide(long_to_wide(...))`` inner-joined with the
    clinical frame: feature columns in sorted order (Spark's pivot
    order), columns with any NULL/NaN dropped (R3), samples with any
    ±Inf dropped (R4), values float64 (R5). A feature id that appears on
    more than one row raises ``ValueError`` naming it, where the pivot's
    ``first()`` would keep an arbitrary copy."""
    long = read_molecules_tsv(spark, molecules_path).toPandas()
    dup = long.duplicated(["sample_id", "feature"])
    if dup.any():
        ids = sorted(long.loc[dup, "feature"].unique())
        raise ValueError(
            f"{molecules_path}: duplicate feature id(s) {', '.join(ids)}"
        )
    wide = long.pivot(index="sample_id", columns="feature", values="value")
    wide = wide.sort_index(axis="columns").astype(np.float64)
    wide = wide.loc[:, wide.notna().all()]  # R3
    wide = wide[~np.isinf(wide.to_numpy()).any(axis=1)]  # R4

    clinical = read_clinical_tsv(spark, clinical_path).toPandas()
    joined = wide.join(clinical.set_index("sample_id"), how="inner").sort_index()
    time_col = joined.pop("time").to_numpy(dtype=np.float64)
    event_col = joined.pop("event").to_numpy(dtype=bool)
    return joined, time_col, event_col
