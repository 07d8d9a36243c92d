"""Property-based tests (hypothesis) for the similarity kernels — the
invariants that hold for ALL inputs, complementing the point goldens."""

from hypothesis import given, settings
from hypothesis import strategies as st

from similarity_reference import _jaro_winkler_one, _lev_ratio_cost2_one
from entity_linking_spark.tokenize import parse_for_tokens, split_token_on

short_text = st.text(
    alphabet=st.characters(codec="utf-8", categories=("L", "N", "P", "Zs")),
    max_size=40,
)


@given(short_text, short_text)
@settings(max_examples=200, deadline=None)
def test_similarity_bounds_and_symmetry(a, b):
    for fn in (_lev_ratio_cost2_one, _jaro_winkler_one):
        v = fn(a, b)
        assert 0.0 <= v <= 1.0
        assert abs(v - fn(b, a)) < 1e-12  # symmetric


@given(short_text)
@settings(max_examples=100, deadline=None)
def test_identity_similarity(a):
    assert _lev_ratio_cost2_one(a, a) == 1.0
    if a:  # DuckDB convention: jw("","") == 0
        assert abs(_jaro_winkler_one(a, a) - 1.0) < 1e-12


@given(st.text(alphabet="ab-", max_size=30))
@settings(max_examples=100, deadline=None)
def test_hyphen_split_roundtrip(tok):
    # delimiter-retaining split loses nothing: rejoining restores the token
    assert "".join(split_token_on(tok, "-")) == tok


@given(st.text(alphabet=st.sampled_from("ab «»“” .!?-'"), max_size=60))
@settings(max_examples=100, deadline=None)
def test_tokenizer_total_function(text):
    # tokenizer never crashes and never invents alphanumerics
    toks = parse_for_tokens(text)
    assert isinstance(toks, list)
    src_alnum = sorted(c for c in text if c.isalnum())
    out_alnum = sorted(c for t in toks for c in t if c.isalnum())
    assert out_alnum == src_alnum


@given(st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), max_size=24))
@settings(max_examples=300, deadline=None)
def test_stemmer_total_and_bounded(word):
    from entity_linking_spark.functions.stem import porter2_stem

    s = porter2_stem(word)
    assert isinstance(s, str)
    # Porter2 never grows a word by more than the single 'e' that step 1b
    # can restore, and never emits the internal Y marker
    assert len(s) <= len(word) + 1
    assert "Y" not in s
    # deterministic
    assert porter2_stem(word) == s


@given(st.text(alphabet="abcdfgiklmnoprtv", min_size=1, max_size=16))
@settings(max_examples=200, deadline=None)
def test_stemmer_plural_consistency(word):
    from entity_linking_spark.functions.stem import porter2_stem

    # regular plural of a non-sibilant stem reduces to the same stem —
    # applicable only when step 1a's own guard holds (a true vowel
    # somewhere before the char preceding the final s; alphabet excludes
    # y/e/u/s/x/z so the sibilant and Y-marking special cases stay out)
    if len(word) > 2 and any(ch in "aeiou" for ch in word[:-1]):
        assert porter2_stem(word + "s") == porter2_stem(word)
