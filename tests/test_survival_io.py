"""Survival TSV ingest + clean vs a pandas reference implementing the
reference repo's exact semantics (`scripts/utils.py:26-63`)."""

import numpy as np
import pandas as pd
import pytest

from multiomix_aws_emr_spark.sources.survival import (
    clean_wide,
    long_to_wide,
    read_clinical_tsv,
    read_molecules_tsv,
    read_survival_matrix,
    wide_to_long,
)


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    """molecules.tsv (features x samples, FIXTURES.md §B) with injected NaN
    and ±Inf cells; clinical.tsv with (event, time)."""
    rng = np.random.RandomState(42)
    n_features, n_samples = 12, 8
    features = [f"GENE_{i:04d}" for i in range(n_features)]
    samples = [f"S{i:02d}" for i in range(n_samples)]
    mat = rng.normal(size=(n_features, n_samples)).round(4)
    mat[2, 3] = np.nan  # GENE_0002 must be column-dropped after transpose
    mat[5, 1] = np.inf  # sample S01 must be row-filtered
    mat[7, 6] = -np.inf  # sample S06 must be row-filtered

    mol = pd.DataFrame(mat, index=features, columns=samples)
    mol.index.name = "feature_id"
    d = tmp_path_factory.mktemp("surv")
    mol_path = str(d / "molecules.tsv")
    mol.to_csv(mol_path, sep="\t")

    clin = pd.DataFrame(
        {
            "event": rng.randint(0, 2, n_samples),
            "time": rng.uniform(1, 100, n_samples).round(2),
        },
        index=pd.Index(samples, name="sample_id"),
    )
    clin_path = str(d / "clinical.tsv")
    clin.to_csv(clin_path, sep="\t")
    return mol_path, clin_path, mol, clin


def _pandas_reference_clean(mol: pd.DataFrame) -> pd.DataFrame:
    """The reference's load+clean pipeline verbatim in pandas semantics:
    transpose (utils.py:53), dropna(axis='columns') (:33), drop ±inf rows
    (:34), astype(float64) (:35)."""
    df = mol.transpose()
    df = df.dropna(axis="columns")
    df = df[~df.isin([np.inf, -np.inf]).any(axis="columns")]
    return df.astype(np.float64)


def test_molecules_roundtrip_and_clean(spark, fixtures):
    mol_path, _, mol, _ = fixtures
    long = read_molecules_tsv(spark, mol_path)
    assert long.columns == ["sample_id", "feature", "value"]

    wide = long_to_wide(long)
    cleaned = clean_wide(wide).toPandas().set_index("sample_id").sort_index()
    cleaned = cleaned[sorted(cleaned.columns)]

    expected = _pandas_reference_clean(mol).sort_index()
    expected = expected[sorted(expected.columns)]
    assert list(cleaned.columns) == list(expected.columns)
    assert "GENE_0002" not in cleaned.columns  # NaN column dropped
    assert "S01" not in cleaned.index and "S06" not in cleaned.index
    pd.testing.assert_frame_equal(
        cleaned, expected, check_names=False, check_exact=False, rtol=1e-9
    )


def test_wide_long_roundtrip_lossless(spark, fixtures):
    mol_path, _, _, _ = fixtures
    long = read_molecules_tsv(spark, mol_path)
    wide = long_to_wide(clean_wide(long_to_wide(long)) .unpivot(
        ids=["sample_id"], values=None,
        variableColumnName="feature", valueColumnName="value"))
    # melt -> pivot -> melt -> pivot must be stable
    again = long_to_wide(wide_to_long(wide))
    a = wide.toPandas().set_index("sample_id").sort_index()
    b = again.toPandas().set_index("sample_id").sort_index()
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_clinical_reader(spark, fixtures):
    _, clin_path, _, clin = fixtures
    out = read_clinical_tsv(spark, clin_path).toPandas().set_index("sample_id")
    assert out["event"].dtype == bool
    assert out["time"].dtype == np.float64
    assert (out.sort_index()["time"] == clin.sort_index()["time"]).all()


def test_survival_matrix_matches_reference(spark, fixtures):
    mol_path, clin_path, mol, clin = fixtures
    x, time_col, event_col = read_survival_matrix(spark, mol_path, clin_path)

    expected = _pandas_reference_clean(mol).sort_index()
    expected = expected[sorted(expected.columns)]
    assert "GENE_0002" not in x.columns  # NaN column dropped
    assert list(x.index) == ["S00", "S02", "S03", "S04", "S05", "S07"]
    assert (x.dtypes == np.float64).all()
    pd.testing.assert_frame_equal(
        x, expected, check_names=False, check_exact=False, rtol=1e-9
    )
    np.testing.assert_array_equal(time_col, clin.loc[x.index, "time"].to_numpy())
    np.testing.assert_array_equal(
        event_col, clin.loc[x.index, "event"].to_numpy().astype(bool)
    )
    assert time_col.dtype == np.float64 and event_col.dtype == bool


def test_survival_matrix_matches_spark_clean(spark, fixtures):
    # same cells, same column order as the Spark pivot + clean path
    mol_path, clin_path, _, _ = fixtures
    x, _, _ = read_survival_matrix(spark, mol_path, clin_path)
    spark_clean = (
        clean_wide(long_to_wide(read_molecules_tsv(spark, mol_path)))
        .toPandas()
        .set_index("sample_id")
        .sort_index()
    )
    pd.testing.assert_frame_equal(x, spark_clean, check_names=False, check_exact=True)


def test_survival_matrix_rejects_duplicate_feature_id(spark, fixtures, tmp_path):
    _, clin_path, mol, _ = fixtures
    dup = pd.concat([mol, mol.loc[["GENE_0004"]]])
    path = str(tmp_path / "dup.tsv")
    dup.to_csv(path, sep="\t")
    with pytest.raises(ValueError, match="GENE_0004"):
        read_survival_matrix(spark, path, clin_path)


def test_survival_matrix_ingest_job_bound(spark, spark_jobs, fixtures):
    # one collect per file plus the CSV readers' header jobs
    mol_path, clin_path, _, _ = fixtures
    _, jobs = spark_jobs(lambda: read_survival_matrix(spark, mol_path, clin_path))
    assert len(jobs) <= 4
