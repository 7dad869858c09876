"""Text analysis for training-data curation: token counts, quality
scoring, language ID, fingerprinting.

Column expressions with exact DuckDB twins — these run in the same
scan as extraction output filtering, so at 100 TB they are free
riders on a pass the pipeline already makes. r9: token/stopword
counting is expressed through codegen'd regex passes (regexp_count /
regexp_replace length deltas) instead of interpreted higher-order
lambdas over token arrays, and the winnowing fingerprinter is a
vectorized mapInArrow stage — same results, several× less CPU.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .._pyworker import python_stage
from .textcommon import norm_text_expr, tokens_expr

# Tiny per-language stopword sets for the n-gram/stopword heuristic.
# Deliberately small and frozen: the oracle SQL embeds the same lists.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "que", "por", "para"),
}


def token_count_expr(text: Column) -> Column:
    # count of non-whitespace runs == size of the \s+ split with
    # empties dropped, without allocating the token array (regexp_count
    # is codegen'd; filter/size on the split is interpreted)
    return F.regexp_count(text, F.lit(r"\S+"))


def corpus_report(df: DataFrame, short_tokens: int = 20, text_col: str = "text") -> DataFrame:
    """ONE-pass corpus health report — the first query run on a fresh
    crawl dump: doc/source counts, byte/token volumes, length
    distribution (mean/median/max), short-doc rate. A single global
    aggregation: every metric reduces in the same partial-agg pass, so
    the whole report costs one scan + one 1-row shuffle at any corpus
    size (the point — NOT one job per metric). DuckDB twin uses
    quantile_cont for the median (same interpolated definition as
    Spark's percentile)."""
    n_tokens = token_count_expr(F.col(text_col))
    return df.select(
        "doc_id", "source", F.length(text_col).alias("n_chars"), n_tokens.alias("nt")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("nt").cast("long").alias("total_tokens"),
        # mean from the EXACT integer sum (no float accumulation order)
        F.round(F.sum("nt").cast("double") / F.count("*"), 6).alias("mean_tokens"),
        F.round(F.expr("percentile(nt, 0.5)"), 6).alias("median_tokens"),
        F.max("nt").cast("long").alias("max_tokens"),
        F.sum(F.when(F.col("nt") < short_tokens, 1).otherwise(0))
        .cast("long")
        .alias("n_short"),
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_chars_actual, mean_token_len)."""
    # token count = non-whitespace runs; summed token length = chars
    # left after deleting all whitespace — both single codegen'd regex
    # passes, no token array, no interpreted fold
    n_tokens = token_count_expr(F.col(text_col))
    total_token_chars = F.length(
        F.regexp_replace(F.col(text_col), r"\s+", "")
    ).cast("long")
    return df.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_actual"),
        F.round(
            F.when(n_tokens > 0, total_token_chars / n_tokens).otherwise(F.lit(0.0)), 6
        ).alias("mean_token_len"),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + keep/drop flag (Gopher-rule style):
    length bounds, mean word length bounds, alpha ratio, stopword hits.

    DuckDB twin uses identical arithmetic; ratios rounded to 6dp."""
    text = F.col(text_col)
    n_tokens = token_count_expr(text)
    n_chars = F.length(text)
    alpha_chars = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    punct_chars = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    mean_wl = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(0.0)
    stop_hits = _stop_hits_expr(_padded_norm_expr(text), STOPWORDS["en"])
    # the gate is the single shared definition — curate() applies the
    # same expression, so threshold tuning can't diverge
    keep = quality_keep_expr(text)
    return df.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(alpha_chars.cast("double") / F.greatest(n_chars, F.lit(1)), 6).alias(
            "alpha_ratio"
        ),
        F.round(punct_chars.cast("double") / F.greatest(n_chars, F.lit(1)), 6).alias(
            "punct_ratio"
        ),
        F.round(mean_wl, 6).alias("mean_word_len"),
        stop_hits.cast("long").alias("stopword_hits"),
        keep.alias("keep"),
    )


def _padded_norm_expr(text: Column) -> Column:
    """lower + whitespace-normalize + single-space pad: every token
    boundary becomes exactly one space, so a stopword occurrence is
    the regex ' word(?= )' (lookahead keeps the trailing space
    available to the next token — consecutive stopwords all count)."""
    return F.concat(
        F.lit(" "), F.regexp_replace(F.lower(text), r"\s+", " "), F.lit(" ")
    )


def _stop_hits_expr(padded: Column, words: tuple[str, ...]) -> Column:
    """Token-membership hit count as ONE codegen'd regex pass.
    Equivalent to size(filter(tokens, t -> lower(t) IN words)) — the
    padded form anchors whole-token matches — but without the
    interpreted per-token lambda (higher-order functions are
    CodegenFallback) or the token-array allocation."""
    return F.regexp_count(padded, F.lit(f" ({'|'.join(words)})(?= )"))


def lang_pred_expr(text: Column) -> Column:
    """argmax of stopword hits across {en,de,fr,es}, 'und' when
    all-zero; ties break by fixed language order en>de>fr>es
    (greatest-with-struct trick; oracle mirrors it). Pure Column expr —
    a free rider on any scan."""
    padded = _padded_norm_expr(text)
    scored = F.greatest(
        *[
            F.struct(
                _stop_hits_expr(padded, STOPWORDS[lang]).alias("hits"),
                F.lit(rank).alias("rank"),
                F.lit(lang).alias("lang"),
            )
            for rank, lang in [(4, "en"), (3, "de"), (2, "fr"), (1, "es")]
        ]
    )
    return F.when(scored["hits"] > 0, scored["lang"]).otherwise(F.lit("und"))


def quality_keep_expr(text: Column) -> Column:
    """The Gopher-style keep gate as a standalone Column expr (same
    arithmetic as quality_features)."""
    n_tokens = token_count_expr(text)
    n_chars = F.length(text)
    alpha_chars = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    mean_wl = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(0.0)
    return (
        (n_tokens >= 5)
        & (mean_wl >= 2.0)
        & (mean_wl <= 12.0)
        & (alpha_chars.cast("double") / F.greatest(n_chars, F.lit(1)) >= 0.6)
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, lang_pred) — see lang_pred_expr."""
    return df.select("doc_id", lang_pred_expr(F.col(text_col)).alias("lang_pred"))


def vocabulary(
    df: DataFrame, min_count: int = 1, lowercase: bool = True, text_col: str = "text"
) -> DataFrame:
    """Corpus token-frequency table (token, n) — the tokenizer-training
    precursor. explode → hash agg with map-side partials: the shuffle
    carries one (token, partial-count) row per distinct token per
    partition, bounded by vocabulary size, not corpus size."""
    tok = F.explode(tokens_expr(F.col(text_col))).alias("token")
    tokens = df.select(tok)
    if lowercase:
        tokens = tokens.select(F.lower("token").alias("token"))
    return (
        tokens.groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def bigrams(
    df: DataFrame, min_count: int = 1, lowercase: bool = True, text_col: str = "text"
) -> DataFrame:
    """Corpus adjacent-token-pair frequency table (bigram, n) — the
    merge-candidate precursor for BPE-style tokenizer training. The
    pairs expand IN-ROW (sequence over the token array, no self-join);
    the shuffle is the same vocabulary-bounded hash agg as
    vocabulary()."""
    # lowercase the TEXT (case mapping never makes whitespace, so the
    # split is unchanged), materialize the token array as a column
    # FIRST (element-wise access on the inlined tokenize expression
    # re-evaluates the whole split per element — measured 9 s where
    # this takes 0.6 s), then expand pairs with arrays_zip + a
    # positional struct cast and join the words AFTER the explode —
    # all codegen; the former zip_with(concat) lambda was
    # CodegenFallback, interpreted per pair (r9).
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = tokens_expr(text)
    ts = F.col("ts")
    n1 = F.greatest(F.size(ts) - 1, F.lit(0))
    pairs = F.arrays_zip(F.slice(ts, 1, n1), F.slice(ts, 2, n1)).cast(
        "array<struct<w1:string,w2:string>>"
    )
    return (
        df.select(toks.alias("ts"))
        .select(F.explode(pairs).alias("p"))
        .select(F.concat("p.w1", F.lit(" "), "p.w2").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-doc top-k terms by tf·(N/df) — the raw-rational tf-idf
    variant (no log), so the weight is exact integer arithmetic in
    doubles and any engine reproduces it bit-for-bit (a log-based idf
    differs across libm implementations in the last ulp).

    Plan shape: one (doc_id, token) count agg (tf), one token-keyed
    distinct-doc agg (df — bounded by vocabulary), a token join of two
    NARROW tables, and a per-doc top-k window. N rides along as a
    broadcast scalar (cross join of a 1-row agg). Ties break on the
    token string."""
    from pyspark.sql import Window

    toks = df.select(
        "doc_id",
        F.explode(tokens_expr(F.lower(F.col(text_col)))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # dfreq deliberately re-scans toks rather than re-aggregating tf:
    # its map-side distinct partials are vocabulary-bounded, while a
    # second agg over tf would ship the corpus-sized (doc_id, token)
    # exchange twice (no reuse across differing partial aggs) —
    # measured ~20% slower (r9 negative result)
    dfreq = toks.distinct().groupBy("token").agg(F.count("*").alias("df"))
    n_docs = df.select(F.countDistinct("doc_id").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.col("weight").desc(), F.col("token"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf").cast("double") * F.col("n_docs") / F.col("df"), 6
            ).alias("weight"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "weight", F.col("rank").cast("long").alias("rank"))
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per doc: distinct-token ratio
    (low ⇒ looping/boilerplate text) and top-bigram mass fraction
    (share of tokens covered by the single most-repeated adjacent
    pair). distinct ratio is pure in-row; the bigram mode needs one
    (doc_id, bigram) hash agg + a per-doc max — the shuffle carries
    short hash-aggregated rows, never text. Docs with <2 tokens report
    0.0 top-bigram mass via the left join restore."""
    toks = tokens_expr(F.lower(F.col(text_col)))
    base = df.select("doc_id", toks.alias("ts")).select(
        "doc_id",
        "ts",
        F.size("ts").alias("n_tok"),
    )
    ts = F.col("ts")
    n1 = F.greatest(F.size(ts) - 1, F.lit(0))
    pairs = F.arrays_zip(F.slice(ts, 1, n1), F.slice(ts, 2, n1)).cast(
        "array<struct<w1:string,w2:string>>"
    )
    # count on a 64-bit hash of the pair, not the string: the shuffle
    # then carries (long, long) rows instead of text (the packed-key
    # trick ngram_jaccard uses). An in-doc hash collision would need
    # ~2^32 distinct bigrams in ONE document — not a real corpus.
    # arrays_zip + row-domain concat, not zip_with (codegen — r9).
    top_bigram = (
        base.select("doc_id", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.xxhash64(F.concat("p.w1", F.lit(" "), "p.w2")).alias("bg_h"),
        )
        .groupBy("doc_id", "bg_h")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return (
        base.join(top_bigram, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tokens"),
            F.when(
                F.col("n_tok") > 0,
                F.round(
                    F.size(F.array_distinct("ts")).cast("double") / F.col("n_tok"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("distinct_token_ratio"),
            F.when(
                F.col("n_tok") > 0,
                F.round(
                    F.coalesce(F.col("top_c"), F.lit(0)).cast("double")
                    * 2.0
                    / F.col("n_tok"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


def line_repetition(
    df: DataFrame, delim: str = "\n", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_lines, dup_line_frac, dup_char_frac): Gopher's
    WITHIN-document line-repetition gates (Rae et al. 2021 §A1.1 —
    'duplicate line fraction' and 'duplicate line character
    fraction'), the standard filter for pages whose body is one nav
    block / cookie banner stamped over and over. Lines are the
    delim-split, trimmed, non-empty segments; dup_line_frac counts
    line OCCURRENCES beyond the first of each distinct value, and
    dup_char_frac the characters those occurrences carry — both
    exact-integer micro-unit ratios (half-up div, the repo's score
    discipline).

    Scale shape: pure in-row Column expressions over one text scan —
    no explode, no shuffle, nothing moves but the per-doc result row;
    at 100 TB this rides the extraction-output pass for free. Unlike
    repetition_features' top-bigram mode (which needs a hash agg),
    within-doc line stats never leave the row."""
    lines = F.filter(
        F.transform(
            F.split(F.col(text_col), F.lit(delim), -1), lambda x: F.trim(x)
        ),
        lambda x: F.length(x) > 0,
    )
    chars = lambda arr: F.aggregate(  # noqa: E731 — local expr builder
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    base = df.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("n_distinct"),
        chars(lines).alias("total_chars"),
        chars(F.array_distinct(lines)).alias("distinct_chars"),
    )
    micro = (
        lambda num, den: F.when(
            F.col(den) > 0,
            F.expr(f"(2 * ({num}) * 1000000 + {den}) div (2 * {den})").cast(
                "double"
            )
            / F.lit(1000000.0),
        ).otherwise(F.lit(0.0))
    )
    return base.select(
        "doc_id",
        "n_lines",
        micro("n_lines - n_distinct", "n_lines").alias("dup_line_frac"),
        micro("total_chars - distinct_chars", "total_chars").alias(
            "dup_char_frac"
        ),
    )


# The required-stopword presence rule from Rae et al. 2021 §A1.1: a
# document must contain at least 2 of these 8 words. Frozen — the
# oracle SQL embeds the same list.
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    delim: str = "\n",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The full Gopher word-level quality rule set (Rae et al. 2021
    §A1.1) as exact micro-unit ratios plus the conjunction keep gate:

      * word count in [min_words, max_words]
      * mean word length in [3, 10] characters
      * '#' symbol-to-word ratio < 0.1 and '...' ratio < 0.1
      * < 90% of lines starting with a bullet ('-' / '*')
      * < 30% of lines ending with an ellipsis
      * >= 80% of words containing at least one alphabetic character
      * >= 2 distinct hits from the 8-word required-stopword list

    Complements line_repetition (the §A1.1 duplicate-line gates) and
    quality_features (the coarse legacy gate). Every ratio is an exact
    int64 half-up micro-unit division, so the keep comparisons agree
    bit-for-bit with the DuckDB twin regardless of threshold edges.

    Scale shape: pure in-row Column expressions — one text scan, zero
    Exchange; at 100 TB this rides the extraction-output pass for
    free, exactly like line_repetition."""
    text = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(text, F.lit(delim), -1), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    # word-level signals as codegen'd regex passes over the text (the
    # token-array + interpreted-lambda forms they replace are
    # CodegenFallback): count of \S+ runs, chars left after deleting
    # whitespace, count of tokens carrying a letter, and whole-token
    # stopword presence over the space-normalized padded text
    padded = _padded_norm_expr(text)
    word_chars = F.length(F.regexp_replace(text, r"\s+", "")).cast("long")
    alpha_words = F.regexp_count(
        F.concat(F.lit(" "), F.regexp_replace(text, r"\s+", " "), F.lit(" ")),
        F.lit(" [^ ]*[A-Za-z][^ ]*(?= )"),
    )
    # '#' / '...' occurrence counts by length delta under non-overlapping
    # leftmost replace — identical semantics in Spark and DuckDB.
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    stop_hits = sum(
        (
            F.contains(padded, F.lit(f" {w} ")).cast("int")
            for w in GOPHER_REQUIRED_STOPWORDS
        ),
        F.lit(0),
    )
    base = df.select(
        "doc_id",
        token_count_expr(text).cast("long").alias("n_words"),
        F.size(lines).cast("long").alias("n_lines"),
        word_chars.alias("word_chars"),
        n_hash.cast("long").alias("n_hash"),
        n_ellipsis.cast("long").alias("n_ellipsis"),
        alpha_words.cast("long").alias("alpha_words"),
        F.size(
            F.filter(
                lines,
                lambda x: F.startswith(x, F.lit("-")) | F.startswith(x, F.lit("*")),
            )
        )
        .cast("long")
        .alias("bullet_lines"),
        F.size(F.filter(lines, lambda x: F.endswith(x, F.lit("..."))))
        .cast("long")
        .alias("ellipsis_lines"),
        stop_hits.cast("long").alias("req_stop_hits"),
    )
    micro = (
        lambda num, den: F.when(
            F.col(den) > 0,
            F.expr(f"(2 * ({num}) * 1000000 + {den}) div (2 * {den})").cast(
                "double"
            )
            / F.lit(1000000.0),
        ).otherwise(F.lit(0.0))
    )
    feat = base.select(
        "doc_id",
        "n_words",
        micro("word_chars", "n_words").alias("mean_word_len"),
        micro("n_hash", "n_words").alias("hash_ratio"),
        micro("n_ellipsis", "n_words").alias("ellipsis_ratio"),
        micro("bullet_lines", "n_lines").alias("bullet_line_frac"),
        micro("ellipsis_lines", "n_lines").alias("ellipsis_line_frac"),
        micro("alpha_words", "n_words").alias("alpha_word_frac"),
        "req_stop_hits",
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("hash_ratio") < 0.1)
        & (F.col("ellipsis_ratio") < 0.1)
        & (F.col("bullet_line_frac") < 0.9)
        & (F.col("ellipsis_line_frac") < 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("req_stop_hits") >= 2)
    )
    return feat.select("*", keep.alias("keep"))


def c4_quality(
    df: DataFrame,
    delim: str = "\n",
    text_col: str = "text",
    min_sentences: int = 3,
    min_line_words: int = 5,
) -> DataFrame:
    """The C4 cleaning rule set (Raffel et al. 2020 §2.2) as exact
    in-row expressions: per-LINE filters (must end in terminal
    punctuation '.', '!' or '?'; must carry >= min_line_words words;
    lines mentioning 'javascript' are removed, not the page) and
    per-PAGE gates (drop pages containing '{', containing
    'lorem ipsum', or with fewer than min_sentences sentences left
    after line filtering — sentences counted as terminal punctuation
    marks in the kept text).

    Emits the kept-line counts, the page-gate flags, the md5 of the
    cleaned text (the narrow audit/oracle column — downstream readers
    re-derive the cleaned body from the same expression), and the
    conjunction keep. Completes the published-rule-set trio next to
    gopher_quality (word-level) and line_repetition (dup-line): a
    curation stack users can cite line-by-line against the papers.

    Scale shape: pure Column expressions, zero Exchange — rides the
    same text scan as the other gates."""
    text = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(text, F.lit(delim), -1), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    terminal = lambda x: (  # noqa: E731 — local expr builder
        F.endswith(x, F.lit("."))
        | F.endswith(x, F.lit("!"))
        | F.endswith(x, F.lit("?"))
    )
    # per-line word count as a native regex count (the split+filter
    # form allocates a token array per line inside an interpreted
    # lambda; regexp_count evaluates as one native regex pass)
    n_words = lambda x: F.regexp_count(x, F.lit(r"\S+"))  # noqa: E731
    kept = F.filter(
        lines,
        lambda x: terminal(x)
        & (n_words(x) >= min_line_words)
        & ~F.contains(F.lower(x), F.lit("javascript")),
    )
    clean = F.array_join(kept, delim)
    n_sentences = F.length(clean) - F.length(
        F.regexp_replace(clean, r"[.!?]", "")
    )
    has_brace = F.contains(text, F.lit("{"))
    has_lorem = F.contains(F.lower(text), F.lit("lorem ipsum"))
    base = df.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sentences.cast("long").alias("n_sentences"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        F.md5(clean).alias("clean_md5"),
    )
    keep = (
        (F.col("n_sentences") >= min_sentences)
        & ~F.col("has_brace")
        & ~F.col("has_lorem")
    )
    return base.select("*", keep.alias("keep"))


# GPT-2-flavoured pretokenizer shape: contractions, letter runs, digit
# runs, punctuation runs, whitespace collapsed away. ASCII classes only
# so Java (Spark) and RE2 (DuckDB) agree.
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens) — whitespace count plus the
    BPE-ish regex count (closer to real tokenizer budgets: punctuation
    and digit runs count separately).

    DuckDB twin: len(regexp_extract_all(text, pattern))."""
    return df.select(
        "doc_id",
        token_count_expr(F.col(text_col)).cast("long").alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_PATTERN))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


# Winnowing parameters (Schleimer et al., MOSS — public algorithm):
# k-gram rolling hashes, keep each window's minimum.
WINNOW_K = 8
WINNOW_WINDOW = 4
WINNOW_BASE = 257
WINNOW_MOD = 1_000_000_007
_POWS = [pow(WINNOW_BASE, WINNOW_K - 1 - j, WINNOW_MOD) for j in range(WINNOW_K)]


def winnowing_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprints via winnowing:
    h(i) = Σ_j code(c_{i+j})·B^{k-1-j} mod M over k-gram windows of the
    normalized text, then the min of each w-hash window (windows
    truncate at the text end), deduplicated in first-appearance order →
    (doc_id, fp) rows.

    Plan: normalization stays a codegen'd projection; the per-char
    hash/min pipeline runs as ONE mapInArrow stage over (doc_id, nt)
    with NumPy doing the rolling hash and sliding minima as shifted
    whole-array ops. The former all-Column form spent its time in
    interpreted higher-order lambdas (transform/slice/array_min are
    CodegenFallback — ~O(len·k + len·w) interpreted steps per doc);
    the vectorized batch path is the guide §4.2 shape and still has
    NO shuffle — fingerprints are emitted where the text is read.

    DuckDB twin mirrors the hash spec (unicode() == ascii() on ASCII;
    UTF-32 code units here == code points on both sides)."""
    norm = norm_text_expr(F.col(text_col))
    base = df.select("doc_id", norm.alias("nt")).filter(F.length("nt") >= WINNOW_K)
    id_type = base.schema["doc_id"].dataType.simpleString()
    k, w, mod = WINNOW_K, WINNOW_WINDOW, WINNOW_MOD
    pows = list(_POWS)

    def fps_batches(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            id_at = batch.column("doc_id").type
            texts = batch.column("nt").to_pylist()
            out_ids: list = []
            out_fps: list["np.ndarray"] = []
            for did, nt in zip(ids, texts):
                # UTF-32-LE units are exactly the code points Spark's
                # ascii()/length() see (and Python's ord())
                codes = np.frombuffer(
                    nt.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = codes.size - (k - 1)
                acc = np.zeros(n, dtype=np.int64)
                for j in range(k):
                    acc = (acc + codes[j : j + n] * pows[j]) % mod
                # truncated-window sliding minima: m[i] = min(h[i:i+w])
                m = acc.copy()
                for off in range(1, w):
                    np.minimum(m[: n - off], acc[off:], out=m[: n - off])
                # dedup preserving first appearance (array_distinct
                # semantics)
                _, first = np.unique(m, return_index=True)
                fps = m[np.sort(first)]
                out_ids.extend([did] * fps.size)
                out_fps.append(fps)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=id_at),  # caller's id type
                    pa.array(
                        np.concatenate(out_fps)
                        if out_fps
                        else np.empty(0, dtype=np.int64)
                    ),
                ],
                names=["doc_id", "fp"],
            )

    return base.mapInArrow(
        python_stage(fps_batches), schema=f"doc_id {id_type}, fp long"
    )


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp_full, fp_prefix64) — md5 of normalized text, plus the
    first 16 hex chars as a compact 64-bit-equivalent key for joins."""
    fp = F.md5(norm_text_expr(F.col(text_col)))
    return df.select(
        "doc_id", fp.alias("fp_full"), F.substring(fp, 1, 16).alias("fp_prefix64")
    )
