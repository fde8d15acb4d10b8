"""The analytics generator against the measured profile of the test tables."""

import pytest

import datagen

# relative tolerance for the sampled means and spreads
REL = 0.03


@pytest.mark.parametrize("seed", [1, 2])
def test_profile_matches_test_tables(tmp_path, seed):
    datagen.generate(str(tmp_path), seed, 0.1)
    got = datagen.profile(str(tmp_path))
    want = datagen.PROFILE
    assert got["rows"] == want["rows"]
    for key in ("doc_vocabulary", "doc_near_dups", "doc_sources", "doc_per_source_max",
                "part_names"):
        assert got[key] == want[key], key
    # two near-duplicates of one document collide: a few, as in the test tables
    assert 1 <= got["doc_exact_dups"] <= 3 * want["doc_exact_dups"]
    for key in ("doc_words_mean", "embedding_norm_mean", "embedding_sd", "extendedprice_mean",
                "extendedprice_sd", "discount_sd", "tax_sd", "event_value_mean"):
        assert got[key] == pytest.approx(want[key], rel=REL), key


def test_same_seed_same_tables(tmp_path):
    datagen.generate(str(tmp_path / "a"), 5, 0.01)
    datagen.generate(str(tmp_path / "b"), 5, 0.01)
    for t in datagen.PROFILE["rows"]:
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes(), t
