"""Inputs depend on the seed and on nothing else."""

import hashlib
import os

import pyarrow.parquet as pq

import datagen


def _digests(d):
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def _make(seed, d):
    datagen.make_tables(seed, d)
    datagen.make_omics(seed, d)
    return _digests(d)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _make(3, str(tmp_path / "a"))
    b = _make(3, str(tmp_path / "b"))
    assert a == b
    assert len(a) == len(datagen.TABLES) + 2


def test_different_seeds_give_different_inputs(tmp_path):
    a = _make(3, str(tmp_path / "a"))
    b = _make(4, str(tmp_path / "b"))
    differ = [f for f in a if a[f] != b[f]]
    # region and nation are fixed dimension tables; everything else moves
    assert set(a) - set(differ) == {"region.parquet", "nation.parquet"}


def test_sizes_do_not_depend_on_the_seed(tmp_path):
    for seed in (1, 2):
        d = str(tmp_path / str(seed))
        datagen.make_tables(seed, d)
        for name, rows in datagen.SIZES.items():
            assert pq.ParquetFile(os.path.join(d, f"{name}.parquet")).metadata.num_rows == rows
