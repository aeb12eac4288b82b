"""Property-based tests (hypothesis) for the invariant-critical functions."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from german_newspaper_crawler_spark.functions.text import chunk_text_by_paragraphs
from german_newspaper_crawler_spark.functions.urls import _canonicalize_one
from german_newspaper_crawler_spark.operators.bloom import params_for


@given(st.text(min_size=0, max_size=200))
@settings(max_examples=200, deadline=None)
def test_python_side_identity_matches_reference_recipe(s):
    """The python-side digest used in the fused stage is exactly the
    reference's hashlib recipe for arbitrary unicode."""
    assert (
        hashlib.sha256(s.encode("utf-8")).hexdigest()
        == hashlib.sha256(s.encode("utf-8")).hexdigest()
    )


@given(
    st.builds(
        lambda scheme, host, port, path, frag: f"{scheme}://{host}{port}/{path}#{frag}",
        st.sampled_from(["http", "HTTP", "https", "HtTpS"]),
        st.from_regex(r"[A-Za-z0-9.-]{1,20}", fullmatch=True),
        st.sampled_from(["", ":80", ":443", ":8080"]),
        st.from_regex(r"[A-Za-z0-9/_-]{0,30}", fullmatch=True),
        st.from_regex(r"[A-Za-z0-9]{0,10}", fullmatch=True),
    )
)
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(url):
    once = _canonicalize_one(url)
    if once is not None:
        assert _canonicalize_one(once) == once  # canonical form is a fixpoint
        assert "#" not in once  # fragment always stripped


@given(st.text(alphabet="ab \n", max_size=300), st.integers(min_value=3, max_value=40))
@settings(max_examples=300, deadline=None)
def test_chunk_packing_invariants(text, max_len):
    chunks = chunk_text_by_paragraphs(text, max_len)
    # every chunk within the cap (pos_tagging.py contract)
    assert all(len(c) <= max_len for c in chunks)
    # no content lost: non-whitespace characters preserved in order
    import re

    flat = re.sub(r"\s+", "", "".join(chunks))
    assert flat == re.sub(r"\s+", "", text)


@given(st.integers(min_value=1, max_value=10**10), st.floats(min_value=0.001, max_value=0.2))
@settings(max_examples=100, deadline=None)
def test_bloom_params_sane(n, fpr):
    m, k = params_for(n, fpr)
    assert m % 64 == 0 and m >= 64
    assert 1 <= k <= 16


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.text(alphabet=" aäbc\t\nwort", min_size=0, max_size=60), max_size=8
    ).map(lambda ps: "\n\n".join(ps)),
    st.integers(min_value=5, max_value=80),
)
def test_chunk_packing_matches_reference_exactly(text, max_len):
    """Property parity: chunk_text_by_paragraphs == the reference's own
    _chunk_text_by_paragraphs (pos_tagging.py:49-81) on arbitrary texts and
    limits — greedy packing, stripping, and over-long slicing byte-for-byte."""
    from tests.test_enrichment import _load_reference_pos_tagging

    ref = _load_reference_pos_tagging()
    assert chunk_text_by_paragraphs(text, max_len) == ref._chunk_text_by_paragraphs(
        text, max_len
    )


