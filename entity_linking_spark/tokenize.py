"""Reference-fidelity tokenization (pinned, deterministic).

Replicates the observable behavior of the reference's patched Treebank
tokenizer pipeline (/root/reference/src/parsers.py:8-38):

- the standard Treebank word-tokenizer rule set (public NLTK rules:
  punctuation split-off, comma/quote handling, parens, contractions),
- the reference's patches: extra open-quote classes ``«“‘„`` and backtick
  runs, close quotes ``»”’``, doubled ``''`` as quotes, and a final-period
  split that also peels closing brackets/quotes at end of string
  (parsers.py:10-20),
- hyphen splitting WITH delimiter retention: ``"state-of-the-art"`` →
  ``["state", "-", "of", "-", "the", "-", "art"]`` (parsers.py:29-34 —
  ``_split_token_on`` + interleave),
- sentence segmentation: the reference uses Punkt (a trained model); the
  rebuild pins a deterministic regex segmenter instead (SURVEY §2.8 F1 —
  the byte-identical contract is *ours to define*, golden-tested).

Exposed both as plain-python (golden tests) and as Arrow-batched pandas
UDFs (the engine path — never per-row Spark UDFs).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- Treebank-style rule set (public semantics), with reference patches ----

_STARTING_QUOTES = [
    (re.compile(r"([«“‘„]|[`]+)"), r" \1 "),     # reference patch, parsers.py:10,16
    (re.compile(r"('')"), r" \1 "),               # reference patch, parsers.py:12,18
    (re.compile(r"^\""), r"``"),
    (re.compile(r"(``)"), r" \1 "),
    (re.compile(r"([ (\[{<])(\"|\'{2})"), r"\1 `` "),
]

_PUNCTUATION = [
    # reference patch (parsers.py:14,20): split a final period plus any
    # trailing closers at end of text
    (re.compile(r"([^\.])(\.)([\]\)}>\"\'" "»”’ " r"]*)\s*$"), r"\1 \2 \3 "),
    (re.compile(r"([:,])([^\d])"), r" \1 \2"),
    (re.compile(r"([:,])$"), r" \1 "),
    (re.compile(r"\.\.\."), r" ... "),
    (re.compile(r"[;@#$%&]"), r" \g<0> "),
    (re.compile(r"([^\.])(\.)([\]\)}>\"\']*)\s*$"), r"\1 \2\3 "),
    (re.compile(r"[?!]"), r" \g<0> "),
    (re.compile(r"([^'])' "), r"\1 ' "),
]

_PARENS_BRACKETS = [(re.compile(r"[\]\[\(\)\{\}<>]"), r" \g<0> ")]

_ENDING_QUOTES = [
    (re.compile(r"([»”’])"), r" \1 "),            # reference patch, parsers.py:11,17
    (re.compile(r"('')"), r" \1 "),               # reference patch, parsers.py:13,19
    (re.compile(r'"'), " '' "),
    (re.compile(r"(\S)(\'\')"), r"\1 \2 "),
    (re.compile(r"([^' ])('[sS]|'[mM]|'[dD]|') "), r"\1 \2 "),
    (re.compile(r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1 \2 "),
]

_CONTRACTIONS = [
    re.compile(r"(?i)\b(can)(?#X)(not)\b"),
    re.compile(r"(?i)\b(d)(?#X)('ye)\b"),
    re.compile(r"(?i)\b(gim)(?#X)(me)\b"),
    re.compile(r"(?i)\b(gon)(?#X)(na)\b"),
    re.compile(r"(?i)\b(got)(?#X)(ta)\b"),
    re.compile(r"(?i)\b(lem)(?#X)(me)\b"),
    re.compile(r"(?i)\b(mor)(?#X)('n)\b"),
    re.compile(r"(?i)\b(wan)(?#X)(na)\s"),
]


def treebank_tokenize(sentence: str) -> list[str]:
    """Treebank word tokenization with the reference's quote/punct patches."""
    text = sentence
    for rx, sub in _STARTING_QUOTES:
        text = rx.sub(sub, text)
    for rx, sub in _PUNCTUATION:
        text = rx.sub(sub, text)
    for rx, sub in _PARENS_BRACKETS:
        text = rx.sub(sub, text)
    text = " " + text + " "
    for rx, sub in _ENDING_QUOTES:
        text = rx.sub(sub, text)
    for rx in _CONTRACTIONS:
        text = rx.sub(r" \1 \2 ", text)
    return text.split()


def split_token_on(token: str, char: str) -> list[str]:
    """Hyphen split with delimiter retention (parsers.py:29-34)."""
    parts = token.split(char)
    out: list[str] = []
    for i, p in enumerate(parts):
        if p:
            out.append(p)
        if i < len(parts) - 1:
            out.append(char)
    return out


def parse_for_tokens(sentence: str) -> list[str]:
    """parsers.py:33-34: treebank tokens, then hyphen-split each."""
    return [
        piece
        for tok in treebank_tokenize(sentence)
        for piece in split_token_on(tok, "-")
    ]


_SENT_RE = re.compile(r"[^.!?]*[.!?]+[\"\'»”’\)\]]*\s*|[^.!?]+$")


def sentence_spans(text: str) -> list[tuple[int, int]]:
    """Deterministic sentence spans (start, end) — the pinned regex
    segmenter standing in for Punkt (parsers.py:23-24)."""
    spans = []
    for m in _SENT_RE.finditer(text):
        seg = m.group(0)
        if not seg.strip():
            continue
        start = m.start() + (len(seg) - len(seg.lstrip()))
        end = m.start() + len(seg.rstrip())
        spans.append((start, end))
    return spans


def parse_for_sentences(text: str) -> list[str]:
    return [text[s:e] for s, e in sentence_spans(text)]


def parse_text_for_tokens(text: str) -> list[str]:
    """parsers.py:36-38: sentences → tokens, flattened."""
    return [
        tok for sent in parse_for_sentences(text) for tok in parse_for_tokens(sent)
    ]


# --- Mention-sentence recovery (reference F11) ------------------------------
# Mirrors /root/reference/src/data_transformers.py:56-98: given character
# offset of a mention, binary-search the sentence span containing it, merge
# forward across sentence boundaries the mention straddles, and tokenize the
# recovered sentence (optionally as left/right splits around the mention).


def _satisfies(span: tuple[int, int], offset: int) -> bool:
    # inclusive end, matching the reference's _satisfies (:56-57)
    return span[0] <= offset <= span[1]


def find_mention_sentence_span(
    spans: list[tuple[int, int]], offset: int
) -> int | None:
    """Index of the sentence span containing ``offset`` (binary search over
    the sorted, non-overlapping span list — data_transformers.py:59-69)."""
    lo, hi = 0, len(spans) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        s, e = spans[mid]
        if offset < s:
            hi = mid - 1
        elif offset > e:
            lo = mid + 1
        else:
            return mid
    return None


def merge_sentences_across_mention(
    spans: list[tuple[int, int]], offset: int, mention_len: int
) -> tuple[int, int]:
    """Extend the containing span forward until it covers the whole mention
    (cross-sentence merge, data_transformers.py:71-81)."""
    mention_end = offset + mention_len
    i = find_mention_sentence_span(spans, offset)
    if i is None:
        raise ValueError(f"offset {offset} outside every sentence span")
    start, end = spans[i]
    # clamp at the last span: a mention length that runs past the end of
    # the text (possible with malformed annotations) yields the maximal
    # span instead of an IndexError deep inside an executor task
    while mention_end > end and i + 1 < len(spans):
        i += 1
        end = spans[i][1]
    return (start, end)


def get_mention_sentence(
    text: str, mention: str, offset: int, lim: int | None = None
) -> list[str]:
    """Tokens of the (merged) sentence containing the mention
    (data_transformers.py:96-99)."""
    spans = sentence_spans(text)
    s, e = merge_sentences_across_mention(spans, offset, len(mention))
    return parse_for_tokens(text[s:e])[:lim]


def get_mention_sentence_splits(
    text: str, mention: str, offset: int, lim: int | None = None
) -> list[list[str]]:
    """[left-context+mention tokens, mention+right-context tokens] — the
    LSTM-feed shape (data_transformers.py:83-94)."""
    spans = sentence_spans(text)
    s, e = merge_sentences_across_mention(spans, offset, len(mention))
    sentence = text[s:e]
    m_idx = sentence.index(mention)
    left = parse_for_tokens(sentence[: m_idx + len(mention)])
    right = parse_for_tokens(sentence[m_idx:])
    if lim is not None:
        return [left[-lim // 2:], right[: lim // 2]]
    return [left, right]


# --- Arrow-batched engine UDFs ---------------------------------------------

@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: parse_text_for_tokens(t or ""))


@F.pandas_udf(T.ArrayType(T.StringType()))
def mention_sentence_udf(
    text: pd.Series, mention: pd.Series, offset: pd.Series
) -> pd.Series:
    """Tokens of the merged sentence around each mention (reference F11).
    Sentence spans are memoized per distinct text within the Arrow batch —
    mentions arrive grouped by document, so span computation is ~once per
    doc, not once per mention."""
    cache: dict[int, list[tuple[int, int]]] = {}

    def one(t, m, off):
        # off < 0 is find_mention_offsets' unlocatable-mention sentinel —
        # map to null, never abort the task
        if t is None or m is None or off is None or off < 0:
            return None
        key = id(t)
        spans = cache.get(key)
        if spans is None:
            spans = sentence_spans(t)
            cache[key] = spans
        try:
            s, e = merge_sentences_across_mention(spans, int(off), len(m))
        except ValueError:
            # offset outside every sentence span (malformed annotation) —
            # null like the off<0 path, never fail the whole Spark task
            return None
        return parse_for_tokens(t[s:e])

    return pd.Series(
        [one(t, m, o) for t, m, o in zip(text, mention, offset)]
    )


def attach_mention_sentences(
    mentions, docs, doc_id_col: str = "doc_id", text_col: str = "text"
):
    """mentions(doc_id, mention, offset) ⋈ docs(doc_id, text) →
    + sentence_tokens column. The join broadcasts/shuffles on doc_id; a
    repartition on doc_id upstream co-locates all mentions of a doc so the
    per-batch span cache hits (reference builds the same lookup driver-side,
    data_transformers.py:101-108).

    When the mentions frame carries a ``matched`` column (the repaired
    form ``find_mention_offsets`` computed its offsets against — longer
    than the raw annotation when repairs insert spaces), its length drives
    the span math; the raw ``mention`` is only the fallback."""
    joined = mentions.join(
        docs.select(
            F.col(doc_id_col), F.col(text_col).alias("_mtext")
        ),
        doc_id_col,
    )
    mention_form = (
        F.coalesce(F.col("matched"), F.col("mention"))
        if "matched" in mentions.columns
        else F.col("mention")
    )
    return joined.withColumn(
        "sentence_tokens",
        mention_sentence_udf(F.col("_mtext"), mention_form, F.col("offset")),
    ).drop("_mtext")
