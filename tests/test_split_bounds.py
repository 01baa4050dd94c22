"""The WAND metadata pass (search/wand.py ``split_bounds``): one numpy
kernel over split_meta rows must give, split for split and in the same
order, what the pandas groupby pipelines it replaced gave — the OR/AND
bound pass and the phrase bound pass. No Spark."""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.search.wand import split_bounds


def _reference_sum(mdf, cache64, weights):
    """The OR/AND pipeline: per (split, term) max ub_factor and Σ nd,
    then per split the terms present, Σ w·ub and Σ nd."""
    tf = mdf["max_tf"].to_numpy(dtype="float64")
    ub_factor = tf / (tf + cache64[mdf["min_nb"].to_numpy(dtype="int64")])
    agg = (
        pd.DataFrame(
            {
                "split": mdf["split"].to_numpy(),
                "term": mdf["term"].to_numpy(),
                "ubf": ub_factor,
                "nd": mdf["nd"].to_numpy(dtype="int64"),
            }
        )
        .groupby(["split", "term"], sort=False)
        .agg(ub=("ubf", "max"), nd=("nd", "sum"))
        .reset_index()
    )
    agg["wub"] = agg["ub"] * agg["term"].map(weights)
    return (
        agg.groupby("split", sort=False)
        .agg(nt=("term", "nunique"), tot=("wub", "sum"), nd=("nd", "sum"))
        .reset_index()
    )


def _reference_phrase(mdf):
    """The phrase pipeline: per (split, term) max max_tf, min min_nb and
    Σ nd, then per split min of each and Σ nd."""
    per_term = (
        mdf.groupby(["split", "term"], sort=False)
        .agg(tmax=("max_tf", "max"), nbmin=("min_nb", "min"), nd=("nd", "sum"))
        .reset_index()
    )
    return (
        per_term.groupby("split", sort=False)
        .agg(
            nt=("term", "nunique"),
            tf_ub=("tmax", "min"),
            nb_min=("nbmin", "min"),
            nd=("nd", "sum"),
        )
        .reset_index()
    )


def _random_meta(rng, n_splits: int, n_terms: int, max_blocks: int):
    """split_meta rows: each term misses some splits and holds up to
    ``max_blocks`` blocks (rows) in each split it is in; rows arrive
    term by term, as SplitIndex.split_meta concatenates them."""
    rows = []
    for t in range(n_terms):
        held = rng.random(n_splits) < 0.6
        held[rng.integers(n_splits)] = True
        for split in rng.permutation(np.flatnonzero(held)):
            for _ in range(int(rng.integers(1, max_blocks + 1))):
                rows.append(
                    (
                        f"t{t:02d}",
                        int(split) * 7 + 3,
                        int(rng.integers(1, 40)),
                        int(rng.integers(0, 256)),
                        int(rng.integers(1, 129)),
                        int(rng.integers(1, 5000)),
                    )
                )
    return pd.DataFrame(
        rows, columns=["term", "split", "max_tf", "min_nb", "nd", "sum_tf"]
    ).astype({"max_tf": "int32", "min_nb": "int32", "nd": "int32"})


def _assert_matches_reference(mdf, cache64, weights):
    got = split_bounds(mdf, cache64, weights)
    want = _reference_sum(mdf, cache64, weights)
    assert got.split.tolist() == want["split"].tolist()
    assert got.nt.tolist() == want["nt"].tolist()
    assert got.nd.tolist() == want["nd"].tolist()
    np.testing.assert_allclose(got.tot, want["tot"], rtol=1e-12, atol=0)
    phrase = _reference_phrase(mdf)
    assert got.split.tolist() == phrase["split"].tolist()
    assert got.tf_ub.tolist() == phrase["tf_ub"].tolist()
    assert got.nb_min.tolist() == phrase["nb_min"].tolist()
    assert got.nd.tolist() == phrase["nd"].tolist()


@pytest.mark.parametrize("seed", range(8))
def test_kernel_matches_pandas_pipelines(seed):
    rng = np.random.default_rng(seed)
    cache64 = rng.uniform(0.3, 3.0, size=256)
    mdf = _random_meta(
        rng,
        n_splits=int(rng.integers(1, 60)),
        n_terms=int(rng.integers(1, 6)),
        max_blocks=4,
    )
    weights = {t: float(rng.uniform(0.1, 9.0)) for t in mdf["term"].unique()}
    _assert_matches_reference(mdf, cache64, weights)


def test_kernel_matches_on_one_split_reader_rows():
    """The near-real-time reader: one split-0 row per term."""
    rng = np.random.default_rng(99)
    cache64 = rng.uniform(0.3, 3.0, size=256)
    mdf = pd.DataFrame(
        {
            "term": ["alpha", "beta", "gamma"],
            "split": np.zeros(3, dtype=np.int64),
            "max_tf": [3, 11, 1],
            "min_nb": [40, 7, 200],
            "nd": np.asarray([12, 5, 930], dtype=np.int64),
            "sum_tf": [30, 70, 930],
        }
    )
    weights = {"alpha": 1.5, "beta": 0.25, "gamma": 4.0}
    _assert_matches_reference(mdf, cache64, weights)
    got = split_bounds(mdf, cache64, weights)
    assert got.split.tolist() == [0] and got.nt.tolist() == [3]


def test_unit_weights_and_empty_meta():
    rng = np.random.default_rng(5)
    cache64 = rng.uniform(0.3, 3.0, size=256)
    mdf = _random_meta(rng, n_splits=9, n_terms=3, max_blocks=3)
    unit = split_bounds(mdf, cache64)
    ones = split_bounds(mdf, cache64, dict.fromkeys(mdf["term"], 1.0))
    assert unit.tot.tolist() == ones.tot.tolist()
    empty = split_bounds(mdf.iloc[:0], cache64, {})
    assert all(len(a) == 0 for a in empty)
