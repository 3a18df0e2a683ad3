"""Text analysis for training-data curation: token counting, quality
scoring, language ID, fingerprinting. All hot-path logic is built-in
``pyspark.sql.functions`` (regex/string/array expressions inside
whole-stage codegen); nothing touches Python per row.

Every function is also expressible in ANSI SQL — the DuckDB oracles in
``__spark_entry__`` mirror these formulas term for term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._tokenize import normalized_text

# per-language marker lexicons (high-frequency function words) for the
# stopword-hit heuristic; single lowercase tokens only. This dict is the
# single source of truth: the gate oracle SQL is generated from it
# (__spark_entry__._lang_id_oracle), so extending a lexicon or adding a
# language updates both engines together.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "con", "para"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour", "qui", "pas"],
    "it": ["il", "di", "che", "non", "per", "una", "sono", "con", "della", "gli"],
    "nl": ["de", "het", "een", "van", "niet", "dat", "aan", "voor", "zijn", "maar"],
    "pt": ["de", "que", "não", "uma", "para", "com", "por", "mais", "dos", "como"],
}

STOPWORDS_EN = [
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
]

# string.punctuation: exactly the chars of the regex class
# [!-/:-@\[-`{-~] (ASCII 33-47, 58-64, 91-96, 123-126)
_ASCII_PUNCT = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"


def _words(text_col: str):
    return F.split(normalized_text(text_col, trim=True), " ")


# BPE-ish lexer: runs of ASCII word chars OR single non-word non-space
# chars (each punctuation mark / CJK char its own token). Explicit ASCII
# classes so Java regex (Spark) and RE2 (DuckDB oracle) agree exactly.
BPE_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count, a BPE-ish subword estimate (ceil(chars/4)
    — the standard ~4 chars/token heuristic), and an exact regex-lexer
    count (``BPE_TOKEN_RE``: word runs + individual punctuation), the
    usual pre-tokenizer shape."""
    w = _words(text_col)
    return (
        df.withColumn("n_words", F.size(w))
        .withColumn(
            "n_subword_est",
            F.ceil(F.length(F.col(text_col)) / F.lit(4)).cast("int"),
        )
        .withColumn(
            "n_lexer_tok",
            # count-without-materializing: collapse each word run to ONE
            # char, delete Java-\s whitespace, and take the length — one
            # char remains per lexer token. regexp_extract_all (what
            # regexp_count rewrites to) builds an array holding every
            # token STRING just to take its size: 26.0 s -> 2.7 s
            # measured on 1M docs / 0.5 GB text at 16 cores, equality
            # verified on unicode/tab/empty edges and real corpora.
            F.length(
                F.translate(
                    F.regexp_replace(
                        F.col(text_col), r"[A-Za-z0-9_]+", "w"
                    ),
                    " \t\n\x0b\x0c\r",
                    "",
                )
            ),
        )
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0,1] from length, word length,
    stopword density and punctuation density (the C4/Gopher-style cheap
    filters). Components:

      len_ok        : 20 ≤ chars ≤ 20000
      word_len_ok   : 3 ≤ mean word length ≤ 12
      stopword_frac : fraction of words in a small English stopword set
      punct_ratio   : punctuation chars / chars (≥0.3 penalized)

    score = 0.25·len_ok + 0.25·word_len_ok + 0.25·min(1, 5·stopword_frac)
          + 0.25·(1 - min(1, punct_ratio/0.3))
    """
    t = F.col(text_col)
    # Three structural choices, together 77 s -> 5.8 s measured on 1M
    # docs / 81.6M words at 16 cores, identical output:
    # 1. Stage the expensive intermediates as REAL columns referenced by
    #    name below — each output column otherwise re-embeds its own
    #    copy of the normalize chain (withColumn composes projections
    #    and projections don't share subexpressions across columns).
    # 2. Count stopwords with codegen'd regexp_count instead of the
    #    interpreted per-element HOF filter (no codegen, per-word
    #    interpreter stack). After normalization every word is exactly
    #    single-space-delimited, so counting `(?<= )(w1|w2|…)(?= )`
    #    over the space-padded string is EXACTLY the per-word set
    #    membership count: lookarounds don't consume the shared
    #    delimiter between adjacent stopwords ("of to a" counts 3), and
    #    a word with attached punctuation ("the,") matches neither the
    #    HOF equality nor the lookahead. Equality vs the HOF verified on
    #    adversarial edges and real corpora (test_dedup_similarity_text).
    # 3. Punctuation density via translate delete (see __q_punct below)
    #    — the dominant cost: regex-deleting ~100% of the corpus to
    #    length a rebuilt string was 76.9 s by itself.
    stop_pat = "(?<= )(" + "|".join(STOPWORDS_EN) + ")(?= )"
    norm = normalized_text(t, trim=True)
    staged = (
        df.withColumn("__q_norm", norm)
        .withColumn("__q_chars", F.length(t))
        .withColumn(
            "__q_stop_hits",
            F.regexp_count(
                F.concat(F.lit(" "), F.col("__q_norm"), F.lit(" ")),
                F.lit(stop_pat),
            ),
        )
        .withColumn(
            "__q_punct",
            # count of chars in the 4 ASCII punct ranges !-/ :-@ [-` {-~
            # via single-pass translate delete (32-char map, no regex):
            # the regexp_replace form deletes ~100% of the corpus
            # through the regex engine + a rebuilt string per row —
            # 76.9 s -> 3.6 s measured on 1M docs at 16 cores, equality
            # verified on unicode edges (non-ASCII punct like … — is in
            # neither the ranges nor the map) and real corpora.
            F.length(t) - F.length(F.translate(t, _ASCII_PUNCT, "")),
        )
        # stage the word count too: referenced by mean_word_len,
        # stopword_frac AND quality_score, each of which would otherwise
        # embed its own split-and-size of __q_norm (6 array
        # materializations per row in the optimized plan)
        .withColumn("__q_nw", F.size(F.split("__q_norm", " ")))
    )
    chars = F.col("__q_chars")
    n_words = F.col("__q_nw")
    mean_wl = chars / F.greatest(n_words, F.lit(1))
    stop_frac = F.col("__q_stop_hits") / F.greatest(n_words, F.lit(1))
    punct_ratio = F.col("__q_punct") / F.greatest(chars, F.lit(1))

    len_ok = ((chars >= 20) & (chars <= 20000)).cast("double")
    wl_ok = ((mean_wl >= 3) & (mean_wl <= 12)).cast("double")
    score = (
        0.25 * len_ok
        + 0.25 * wl_ok
        + 0.25 * F.least(F.lit(1.0), stop_frac * 5)
        + 0.25 * (1 - F.least(F.lit(1.0), punct_ratio / 0.3))
    )
    return (
        staged.withColumn("n_chars_q", chars)
        .withColumn("mean_word_len", F.round(mean_wl, 4))
        .withColumn("stopword_frac", F.round(stop_frac, 4))
        .withColumn("punct_ratio", F.round(punct_ratio, 4))
        .withColumn("quality_score", F.round(score, 4))
        .drop("__q_norm", "__q_chars", "__q_stop_hits", "__q_punct",
              "__q_nw")
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: the language whose marker lexicon hits the
    most words wins; CJK codepoints short-circuit to "zh"; ties/no-hits →
    "und". Deterministic tie-break by language code order."""
    # project the split ONCE: higher-order filters are interpreted (no
    # codegen, no common-subexpression elimination), so referencing the
    # split inline re-tokenizes the text per language — 3.4x slower
    # measured. CollapseProject keeps a non-cheap alias used 8x
    # materialized, so the column projection survives optimization.
    w = F.col("__lang_words")

    def _marker_hits(markers):
        # closure keeps the F.filter lambda single-parameter (a second
        # parameter would be interpreted as the element index)
        return F.size(F.filter(w, lambda x: x.isin(*markers)))

    has_cjk = F.col(text_col).rlike(r"[一-鿿]")
    # argmax with first-wins tie-break, WITHOUT a nested when-chain: the
    # naive fold embeds every previous hits expression twice per step —
    # an O(2^langs) expression tree where each node re-splits the text
    # (measured 8.8 s for 5k docs). array_position(arr, array_max(arr))
    # returns the FIRST index attaining the max — identical semantics
    # (first sorted language code wins ties; 0 hits → "und"), with each
    # hits expression appearing exactly once.
    langs = sorted(LANG_MARKERS)  # deterministic order
    arr = F.array(*[_marker_hits(LANG_MARKERS[lang]) for lang in langs])
    names = F.array(*[F.lit(lang) for lang in langs])
    mx = F.array_max(arr)
    best = F.element_at(names, F.array_position(arr, mx).cast("int"))
    return (
        df.withColumn("__lang_words", _words(text_col))
        .withColumn(
            "lang_pred",
            F.when(has_cjk, "zh").when(mx > 0, best).otherwise("und"),
        )
        .drop("__lang_words")
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the normalized text (exact identity)
    plus a 64-bit rolling-window content key (first/last 64 normalized chars
    + length) that survives mid-document edits poorly but catches
    boilerplate-wrapped copies cheaply."""
    # stage the normalized string once: fingerprint + rough_key reference
    # it 5x, and when this op lands in the same projection as an
    # interpreted-HOF column (e.g. after with_lang_id) there is neither
    # codegen nor subexpression elimination to deduplicate the regex
    norm = F.col("__fp_norm")
    tail_pos = F.greatest(F.length(norm) - F.lit(63), F.lit(1))
    return (
        df.withColumn("__fp_norm", normalized_text(text_col))
        .withColumn("fingerprint", F.md5(norm))
        .withColumn(
            "rough_key",
            F.md5(
                F.concat_ws(
                    "|",
                    F.substring(norm, 1, 64),
                    F.substring(norm, tail_pos, F.lit(64)),
                    F.length(norm).cast("string"),
                )
            ),
        )
        .drop("__fp_norm")
    )


def corpus_summary(
    df: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-source corpus statistics — the curation dashboard aggregate."""
    d = with_quality_score(with_token_count(df, text_col), text_col)
    return d.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        F.round(F.avg("stopword_frac"), 4).alias("avg_stopword_frac"),
        F.min("n_chars_q").alias("min_chars"),
        F.max("n_chars_q").alias("max_chars"),
    )


def tokenize_words(
    df: DataFrame,
    text_col: str = "text",
    vocab: int = (1 << 31) - 1,
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    portable: bool = False,
) -> DataFrame:
    """Deterministic word-hash tokenization: lowercase, collapse
    whitespace, split on single spaces, hash each word to
    ``pmod(xxhash64(word), vocab)``. The cheap, vocabulary-free stand-in
    a validation/layout pipeline uses when the real BPE tokenizer runs
    elsewhere — same construction as the gate's sequences view, exposed
    as a library operator so the end-to-end preparation CLI can feed
    ``span_dedup``/``packing`` from raw text. Pure per-row projection.

    ``portable=True`` swaps xxhash64 for the md5-prefix word hash
    (``dedup.portable_word_hash``) that an external SQL engine can
    reproduce bit-exactly — same convention as the other portable
    operator paths (sharding, span_dedup, sampling)."""
    words = _words(text_col)
    if portable:
        from .dedup import portable_word_hash

        tok = lambda w: F.pmod(portable_word_hash(w), F.lit(vocab)).cast("int")  # noqa: E731
    else:
        tok = lambda w: F.pmod(F.xxhash64(w), F.lit(vocab)).cast("int")  # noqa: E731
    return df.withColumn(tokens_col, F.transform(words, tok)).withColumn(
        n_tok_col, F.size(F.col(tokens_col)).cast("int")
    )
