"""kernels/rollhash: the vectorized prefix rolling hash must equal the
scalar reference AND its DuckDB SQL twin — this equivalence is what makes
the near-dup oracle queries (minhash/simhash/ngram) independently
checkable by the driver."""

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geopy_spark.kernels import rollhash as R

TEXTS = [
    "hello world abc def",
    "a",
    "",
    "   ",
    "  multi   space\ttab\nnewline doc here ",
    "the quick brown fox jumps over the lazy dog again and again",
    "x y",
    "UPPER Case MiXeD words HERE now",
    "único café naïve 中文 words here ok",  # non-ASCII: numpy path only
]


def expected_hashes(t: str, ngram: int) -> set[int]:
    words = str(t).lower().split()
    if not words:
        return {R.hash_str62("")}
    if len(words) < ngram:
        return {R.hash_str62(" ".join(words))}
    return {R.hash_str62(" ".join(words[i:i + ngram]))
            for i in range(len(words) - ngram + 1)}


@pytest.mark.parametrize("ngram", [2, 3])
def test_vectorized_equals_scalar(ngram):
    for t in TEXTS:
        got = set(R.shingle_hashes(t, ngram).tolist())
        assert got == expected_hashes(t, ngram), t


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
               max_size=300),
       st.integers(min_value=2, max_value=4))
def test_vectorized_equals_scalar_property(t, ngram):
    got = set(R.shingle_hashes(t, ngram).tolist())
    assert got == expected_hashes(t, ngram)


def test_sql_twin_matches_python():
    con = duckdb.connect()
    for s in ["", "a", "hello wor", "the quick brown", "punct, (x)!"]:
        v = con.sql(f"SELECT {R.shingle_hash_sql('s')} FROM (SELECT ?::VARCHAR AS s)",
                    params=[s]).fetchone()[0]
        assert v == R.hash_str62(s), s


def test_sql_shingles_match_python():
    con = duckdb.connect()
    for t in TEXTS:
        if any(ord(c) > 127 for c in t):
            continue  # SQL twin is exercised on ASCII corpora (driver data)
        for ngram in (2, 3):
            w = R.words_sql("t")
            sh = R.shingles_sql("w", ngram)
            v = con.sql(
                f"SELECT {sh} FROM (SELECT {w} AS w FROM (SELECT ?::VARCHAR AS t))",
                params=[t]).fetchone()[0]
            words = str(t).lower().split()
            if not words:
                exp = [""]
            elif len(words) < ngram:
                exp = [" ".join(words)]
            else:
                exp = sorted({" ".join(words[i:i + ngram])
                              for i in range(len(words) - ngram + 1)})
            assert sorted(v) == exp, (t, ngram)


def test_hash_is_62_bit_and_collision_free_on_vocab():
    hs = [R.hash_str62(f"w{i} w{j} w{k}")
          for i in range(12) for j in range(12) for k in range(12)]
    assert len(set(hs)) == len(hs)
    assert all(0 <= h < (1 << 62) for h in hs)


@pytest.mark.parametrize("ngram", [2, 3, 5])
def test_batch_matches_per_doc_bit_for_bit(ngram):
    """shingle_hashes_batch is the signature UDFs' hot path: its flat
    layout must equal the per-document cascade EXACTLY (values, order,
    boundaries) — minhash minima and simhash bit votes both read it."""
    docs = TEXTS + ["dup dup dup dup", "a a a", "one", "x " * 300,
                    " ".join(f"w{i % 7}" for i in range(50))]
    ref = [R.shingle_hashes(t, ngram) for t in docs]
    flat, starts, lens = R.shingle_hashes_batch(docs, ngram)
    assert flat.dtype == np.uint64
    assert np.array_equal(flat, np.concatenate(ref))
    assert np.array_equal(lens, np.array([h.size for h in ref]))
    assert np.array_equal(starts, np.concatenate(
        ([0], np.cumsum([h.size for h in ref])[:-1])))


def test_batch_empty_and_degenerate_inputs():
    flat, starts, lens = R.shingle_hashes_batch([], 3)
    assert flat.size == 0 and starts.size == 0 and lens.size == 0
    flat, starts, lens = R.shingle_hashes_batch(["", "   ", "\t\n"], 3)
    assert np.array_equal(flat, np.zeros(3, dtype=np.uint64))  # hash("")=0
    assert np.array_equal(lens, np.ones(3, dtype=np.int64))


def test_batch_codepoint_limit_raises_at_bound():
    """The batch's uint64 prefix sums are exact only below 2^33
    codepoints; the bound check refuses a batch AT the limit and passes
    one codepoint below it (checked directly — no 32 GiB batch)."""
    R.check_batch_codepoints(R.MAX_BATCH_CODEPOINTS - 1)
    with pytest.raises(ValueError, match="codepoints"):
        R.check_batch_codepoints(R.MAX_BATCH_CODEPOINTS)
    assert R.MAX_BATCH_CODEPOINTS == 2 ** 33


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60),
    max_size=12),
    st.integers(min_value=2, max_value=4))
def test_batch_matches_per_doc_property(docs, ngram):
    ref = [R.shingle_hashes(t, ngram) for t in docs]
    flat, starts, lens = R.shingle_hashes_batch(docs, ngram)
    exp = (np.concatenate(ref) if ref
           else np.zeros(0, dtype=np.uint64))
    assert np.array_equal(flat, exp)
    assert np.array_equal(lens, np.array([h.size for h in ref],
                                         dtype=np.int64).reshape(len(ref)))
