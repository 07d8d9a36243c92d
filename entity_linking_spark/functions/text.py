"""Text-analysis column expressions — all JVM-side (whole-stage codegen).

These are the engine's fast-path text ops: word tokens, shingles, quality
metrics, language-ID heuristics, fingerprints. The reference does all of
this in per-row Python (``/root/reference/src/parsers.py``,
``src/simple_dataset.py:110-143``); here everything except the
reference-fidelity Treebank tokenizer (see ``entity_linking_spark.tokenize``)
is pure Catalyst expressions so Catalyst can pushdown/prune around them.

Every function has an ``sql_*`` twin producing the equivalent DuckDB SQL so
the driver's oracle can verify it value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from entity_linking_spark.hashing import md5hash64, sql_md5hash64

# Accent folding table (unidecode-lite). The reference normalizes block keys
# with unidecode().lower() (/root/reference/src/utils.py:72-77); this folds
# the Latin-1/Latin-ext accents that occur in web text. Deterministic and
# identical in Spark (translate) and DuckDB (translate).
_ACCENT_PAIRS = [
    ("áàâäãåā", "a"), ("çćč", "c"), ("éèêëēě", "e"), ("íìîïī", "i"),
    ("ñń", "n"), ("òóôöõøō", "o"), ("úùûüū", "u"), ("ýÿ", "y"),
    ("žźż", "z"), ("šś", "s"), ("ğ", "g"), ("ı", "i"), ("İ", "I"),
    ("ÁÀÂÄÃÅĀ", "A"), ("ÇĆČ", "C"), ("ÉÈÊËĒĚ", "E"), ("ÍÌÎÏĪ", "I"),
    ("ÑŃ", "N"), ("ÒÓÔÖÕØŌ", "O"), ("ÚÙÛÜŪ", "U"), ("Ý", "Y"),
    ("ŽŹŻ", "Z"), ("ŠŚ", "S"), ("Ğ", "G"), ("ß", "s"),
]
_ACCENT_SRC = "".join(src for src, _ in _ACCENT_PAIRS)
_ACCENT_DST = "".join(dst * len(src) for src, dst in _ACCENT_PAIRS)
assert len(_ACCENT_SRC) == len(_ACCENT_DST)


def fold_ascii(c: Column) -> Column:
    """Accent-fold + lowercase — the normalized-key function.

    Reference analog: ``unidecode.unidecode(mention).lower()``
    (``/root/reference/src/utils.py:72-77``, ``src/data_fetchers.py:95``).
    """
    return F.lower(F.translate(c, _ACCENT_SRC, _ACCENT_DST))


def sql_fold_ascii(expr: str) -> str:
    return f"lower(translate({expr}, '{_ACCENT_SRC}', '{_ACCENT_DST}'))"


def words(c: Column) -> Column:
    """Lowercased word tokens: split on non-alphanumeric runs."""
    return F.filter(
        F.split(fold_ascii(c), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )


def sql_words(expr: str) -> str:
    return (
        f"list_filter(string_split_regex({sql_fold_ascii(expr)}, '[^a-z0-9]+'),"
        f" x -> x <> '')"
    )


def word_shingles(tokens: Column, k: int) -> Column:
    """k-token shingles joined by a single space. Empty array if < k tokens.

    Pure column ops (sequence + transform + slice): no UDF, so shingling
    stays inside codegen even at 10^12-document scale.
    """
    n = F.size(tokens)
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k))
    )


def sql_word_shingles(tokens_expr: str, k: int) -> str:
    # DuckDB: generate_subscripts-style via range + list_slice
    return (
        f"CASE WHEN len({tokens_expr}) >= {k} THEN "
        f"[array_to_string(list_slice({tokens_expr}, i+1, i+{k}), ' ') "
        f"  for i in range(0, len({tokens_expr}) - {k} + 1)] "
        f"ELSE [] END"
    )


# Compact English stopword list (public-domain function words; the
# reference filters with nltk's English list, src/simple_dataset.py:95 —
# the sandbox has no nltk, so the list is inlined).
STOPWORDS: list[str] = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "had", "has", "have", "he", "her", "his", "i", "if", "in", "is", "it",
    "its", "no", "not", "of", "on", "or", "s", "she", "so", "t", "that",
    "the", "their", "them", "they", "this", "to", "was", "we", "were",
    "which", "will", "with", "you",
]


def remove_stopwords(
    tokens: Column, stopwords: list[str] | None = None
) -> Column:
    """Drop stopword tokens, keeping duplicates and order (reference F8:
    stopword removal before BoW featurization,
    /root/reference/src/simple_dataset.py:95,140-143). Pure codegen —
    F.filter with an isin literal, no shuffle, no UDF. (array_except
    would dedup, which is wrong for a bag-of-words.)"""
    sw = stopwords if stopwords is not None else STOPWORDS
    return F.filter(tokens, lambda t: ~t.isin(sw))


# --- F9: heuristic POS noun filter -----------------------------------------
# The reference's wiki2vec context encoder consumes a bag of nouns:
# tokens whose nltk POS tag starts with 'N'
# (/root/reference/src/data_transformers.py:143-146, consumed at
# src/runner.py:403-443). The sandbox has no nltk/tagger model, so this is
# a DETERMINISTIC closed-class + suffix heuristic (standard rule-tagger
# design, cf. Brill '92 transformation lists): nouns are the open default
# class, so a token is a noun unless (a) it is a closed-class function
# word, or (b) it carries a clearly verbal/adjectival/adverbial suffix and
# no overriding nominal suffix. Identical rules are embedded in the DuckDB
# oracle (queries.bag_of_nouns) so the heuristic itself is value-checked.

# Closed-class words a tagger would never tag N* (STOPWORDS plus the
# remaining common determiners/pronouns/auxiliaries/adverbs/conjunctions).
FUNCTION_WORDS: list[str] = sorted(set(STOPWORDS) | {
    "all", "also", "am", "any", "been", "both", "can", "could", "did",
    "do", "does", "down", "each", "even", "few", "here", "how", "into",
    "just", "may", "might", "more", "most", "must", "my", "never", "now",
    "only", "other", "our", "out", "over", "own", "same", "shall",
    "should", "some", "such", "than", "then", "there", "these", "those",
    "through", "too", "under", "up", "us", "very", "what", "when",
    "where", "while", "who", "whom", "why", "would", "yet", "your",
})

# Nominal suffixes that override the non-noun exclusion below
# ("statement", "activity", "tourism" stay nouns despite no other signal).
NOUN_SUFFIX_RE = (
    r"(tion|sion|ment|ness|ity|ance|ence|ship|hood|dom|ism|ist|age|ure|ery)$"
)
# Verbal / adjectival / adverbial suffixes: tokens ending in these (and
# not in a nominal suffix) are excluded from the bag of nouns.
NONNOUN_SUFFIX_RE = r"(ly|ing|ed|ous|ive|ful|less|able|ible|ize|ise|est)$"


def is_noun(t: Column) -> Column:
    """Boolean column: heuristic 'POS tag starts with N' for one token."""
    return (
        t.rlike("^[a-z]+$")
        & (F.length(t) >= 2)
        & ~t.isin(FUNCTION_WORDS)
        & (t.rlike(NOUN_SUFFIX_RE) | ~t.rlike(NONNOUN_SUFFIX_RE))
    )


def filter_nouns(tokens: Column) -> Column:
    """F9: keep only heuristic-noun tokens, preserving duplicates and order
    (the reference returns a *list* of lowercased nouns, not a set). Pure
    codegen — F.filter over the token array, no shuffle, no UDF."""
    return F.filter(tokens, is_noun)


def sql_is_noun(tok: str) -> str:
    """The identical noun rule as a DuckDB boolean expression (oracle side)."""
    fw = ", ".join(f"'{w}'" for w in FUNCTION_WORDS)
    return (
        f"(regexp_matches({tok}, '^[a-z]+$') AND length({tok}) >= 2"
        f" AND {tok} NOT IN ({fw})"
        f" AND (regexp_matches({tok}, '{NOUN_SUFFIX_RE}')"
        f"      OR NOT regexp_matches({tok}, '{NONNOUN_SUFFIX_RE}')))"
    )


def fingerprint(tokens: Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    per-token md5 hashes, mod 2^31-1. Cross-engine deterministic.

    Reference analog: content-addressed run naming via sha256 of params
    (``/root/reference/src/experiment.py:56-61``) — here applied per
    document for dedup/lineage.
    """
    tok_h = F.transform(tokens, lambda t: md5hash64(t) % 1000003)
    return F.aggregate(
        tok_h,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 131 + h) % 2147483647,
    )


def sql_fingerprint(tokens_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(0::bigint, "
        f"[{sql_md5hash64('t')} % 1000003 for t in {tokens_expr}]), "
        f"(acc, h) -> (acc * 131 + h) % 2147483647)"
    )


def items_to_str(items: Column, sep: str = " ") -> Column:
    """Join array items into one string (reference F20 ``items_to_str``,
    ``/root/reference/src/utils.py`` helpers) — ``concat_ws``, codegen."""
    return F.concat_ws(sep, F.transform(items, lambda x: x.cast("string")))


def row_to_json(*cols: Column | str) -> Column:
    """Serialize columns to a JSON string (reference F20 ``to_json``
    params/results dumps, ``/root/reference/src/experiment.py:67-98``) —
    ``F.to_json(struct(...))``, codegen."""
    return F.to_json(F.struct(*cols))
