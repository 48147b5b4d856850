"""Text-analysis operators for training-data curation: token statistics,
quality scoring, language-ID heuristic, and document fingerprinting.

Everything is built from vectorized pyspark.sql.functions (split /
transform / filter / aggregate over arrays) — no Python in the row path,
so the whole stage stays inside whole-stage codegen and scales linearly
with input bytes. Each operator has an exact ANSI-SQL formulation used by
the DuckDB oracles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# marker tokens per language for the n-gram/keyword language heuristic;
# checked in declared order, ties broken by that order.
LANG_MARKERS = (
    ("en", ("the", "a", "of")),
    ("de", ("der", "die", "und")),
    ("es", ("el", "la", "de")),
    ("fr", ("le", "la", "et")),
    ("zh", ("的", "是", "了")),
)

ROLLING_MOD = 1_000_000_007


def token_stat_cols(text_col: str) -> dict:
    """The per-row token-statistics expressions, keyed by output column
    name — exposed so composed pipelines (operators/curation.py) can
    evaluate every stat in ONE projection instead of joining the
    operator outputs back together on id."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    stop_in = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), "[^a-z]", ""))
    # ANSI-safe empty-text guards (same bug class as the char_entropy
    # fix): an empty document has n_chars = 0, and under this engine's
    # ANSI mode the unguarded ratio ABORTS the whole job with
    # DIVIDE_BY_ZERO — empty documents are routine in crawl corpora.
    # Convention: empty text scores 0.0 on every ratio (worthless
    # quality); the `== 0` test keeps NULL text flowing to the
    # null-propagating branch so null semantics are unchanged.
    alpha_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        alpha_chars / n_chars
    )
    stop_ratio = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        stop_in / n_tokens
    )
    quality = 100.0 * (
        0.5 * alpha_ratio + 0.5 * F.least(stop_ratio * 5.0, F.lit(1.0))
    )
    avg_token_len = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        tok_len_sum / n_tokens
    )
    return {
        "n_tokens": n_tokens.cast("long"),
        "n_chars": n_chars.cast("long"),
        "avg_token_len": F.round(avg_token_len, 4).cast("double"),
        "alpha_ratio": F.round(alpha_ratio, 4).cast("double"),
        "stop_ratio": F.round(stop_ratio, 4).cast("double"),
        "quality": F.round(quality, 4).cast("double"),
    }


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document curation stats: token count, char count, mean token
    length, alpha ratio, stopword ratio, and a 0-100 quality score.

    quality = 100·(0.5·alpha_ratio + 0.5·min(5·stop_ratio, 1)): documents
    made of alphabetic text with a natural-language stopword rate score
    high; symbol soup and keyword lists score low.
    """
    cols = token_stat_cols(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        *[e.alias(n) for n, e in cols.items()],
    )


def langid_col(text_col: str):
    """The language-ID expression (see langid) as a single column."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    counts = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS
    }
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    # reversed so the FIRST declared language wins ties after the fold
    for lang, _ in reversed(LANG_MARKERS):
        pred = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(pred)
    return pred


def langid(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keyword-marker language ID: predicted = argmax of marker-token
    counts, first-declared language wins ties, 'und' when all zero."""
    return df.select(
        F.col(id_col).alias("id"), langid_col(text_col).alias("predicted_lang")
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprints: sha256 content digest + a token-level
    rolling hash (fold of per-token codes, mod 1e9+7) usable as a cheap
    order-sensitive signature.

    token code = 7·len(token) + ascii(first char); rolling = foldl
    (acc·31 + code) mod M starting at 0. All inside one codegen'd
    expression — no UDF.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    codes = F.transform(
        toks,
        lambda t: (
            F.length(t) * 7 + F.ascii(F.substring(t, 1, 1))
        ).cast("long"),
    )
    rolling = F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % ROLLING_MOD,
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.sha2(F.col(text_col), 256).alias("sha256_hex"),
        rolling.alias("rolling_fp"),
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style intra-document repetition signals over n-grams:
    (id, n_ngrams, n_distinct_ngrams, dup_ngram_frac, top_ngram_frac).

    dup_ngram_frac = 1 − distinct/total (share of n-gram occurrences
    that are repeats); top_ngram_frac = the most frequent n-gram's share
    — the two thresholds MassiveText-class quality filters cut on.
    Documents shorter than n tokens emit zeros.

    Scale shape: one explode → two-level hash aggregation keyed by
    (id, shingle) then id — both stages partial-aggregate map-side, and
    nothing wider than (id, shingle-string, count) ever shuffles. Pure
    codegen, no UDF.
    """
    from anomaly_detector_faironchain_spark.operators.dedup import shingles

    per = (
        shingles(df, id_col, text_col, n, distinct=False)
        .groupBy("id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = per.groupBy("id").agg(
        F.sum("c").alias("n_ngrams"),
        F.count(F.lit(1)).alias("n_distinct_ngrams"),
        F.max("c").alias("top_c"),
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(stats, "id", "left").select(
        "id",
        F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
        F.coalesce("n_distinct_ngrams", F.lit(0)).alias("n_distinct_ngrams"),
        F.when(
            F.col("n_ngrams").isNull() | (F.col("n_ngrams") == 0), F.lit(0.0)
        ).otherwise(
            F.round(1.0 - F.col("n_distinct_ngrams") / F.col("n_ngrams"), 6)
        ).alias("dup_ngram_frac"),
        F.when(
            F.col("n_ngrams").isNull() | (F.col("n_ngrams") == 0), F.lit(0.0)
        ).otherwise(
            F.round(F.col("top_c") / F.col("n_ngrams"), 6)
        ).alias("top_ngram_frac"),
    )


# Patterns deliberately stay in the RE2-compatible subset (no lookaround,
# no backrefs) so Spark (Java regex) and any RE2 engine — including the
# DuckDB oracle — agree match-for-match.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def redact_pii(
    df: DataFrame, id_col: str, text_col: str,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Mask PII spans: (id, redacted_text, n_email, n_phone, n_ssn, …).

    Each pattern is replaced by |||KIND||| and its match count reported —
    the Dolma-style masking pass a training pipeline runs before
    tokenization. Map-only pure codegen (regexp_replace +
    regexp_extract_all); document bodies never shuffle. Order matters:
    SSN masks before phone, whose pattern would otherwise eat the last
    9 digits of a 3-2-4 SSN.
    """
    pats = patterns or PII_PATTERNS
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(p), F.lit(0)))
        .alias(f"n_{kind}")
        for kind, p in pats.items()
    ]
    red = F.col(text_col)
    for kind in ("ssn", "phone", "email"):
        if kind in pats:
            red = F.regexp_replace(red, pats[kind], f"|||{kind.upper()}|||")
    for kind, p in pats.items():
        if kind not in ("ssn", "phone", "email"):
            red = F.regexp_replace(red, p, f"|||{kind.upper()}|||")
    return df.select(
        F.col(id_col).alias("id"), red.alias("redacted_text"), *counts
    )


def c4_line_filter(
    df: DataFrame, id_col: str, text_col: str,
    min_words: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning: (id, clean_text, n_lines,
    n_kept_lines). A line survives when it ends in terminal punctuation
    (. ! ? ") AND has at least min_words whitespace words; survivors are
    rejoined with newlines in original order.

    Entirely array builtins (split → filter lambda → array_join): a
    map-only projection with zero shuffles and no UDF — line filtering at
    corpus scale is embarrassingly parallel and should never leave the
    scan stage.
    """
    lines = F.split(F.col(text_col), "\n")
    keep = F.filter(
        lines,
        lambda x: x.rlike(r'[.!?"]\s*$')
        & (F.size(F.split(F.trim(x), r"\s+")) >= min_words),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.array_join(keep, "\n").alias("clean_text"),
        F.size(lines).alias("n_lines"),
        F.size(keep).alias("n_kept_lines"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    persist: bool = False,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms —
    the lexical counterpart of the embedding similarity search, used for
    quality-targeted corpus selection ("documents that look like X").
    Returns (id, n_hit_terms, bm25) for all documents (0.0 for no hits).

    Lucene's idf form: ln(1 + (N − df + 0.5)/(df + 0.5));
    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Scale shape: the tokenized base frame feeds three consumers (the
    N/avgdl aggregate, the tf explode, and the final all-ids join), i.e.
    three narrow column-pruned scans of the source — the explode emits
    ONLY matching tokens (the filter runs inside the array), N/avgdl ride
    a 1-row broadcast cross join, and the per-term df table is
    term-cardinality and broadcasts into the scoring expression. Pass
    persist=True to cache the tokenized base and collapse the three
    scans to one when the corpus is not already warm. No UDF anywhere."""
    terms = [t for t in query_terms]
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col).alias("id"),
        toks.alias("toks"),
    ).select(
        "id",
        F.size("toks").alias("dl"),
        F.filter("toks", lambda t: t.isin(*terms)).alias("hits"),
    )
    if persist:
        base = base.persist()
    corpus_stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        base.select("id", "dl", F.explode("hits").alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus_stats))
        .select(
            "id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("contrib"),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.sum("contrib").alias("bm25"),
        )
    )
    return (
        base.select("id")
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("n_hit_terms", F.lit(0)).cast("long").alias("n_hit_terms"),
            F.round(F.coalesce("bm25", F.lit(0.0)), 4).cast("double").alias("bm25"),
        )
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    symbol-soup / degenerate-text detector complementing token_stats:
    natural language sits ~3.5-4.5 bits, single-character spam near 0,
    random base64 near 6. Returns (id, n_chars, distinct_chars,
    entropy_bits).

    Pure whole-stage-codegen array expressions: chars enumerated by
    index, distinct set SORTED so the entropy fold visits terms in the
    same order as the DuckDB oracle (bit-identical floats). Per-row cost
    is O(n_chars · distinct_chars) — fine for documents; for multi-MB
    rows switch to the explode → groupBy(id, char) → agg formulation (one
    shuffle) or an Arrow-batched Counter.

    Empty documents (common in crawl corpora) are guarded explicitly:
    sequence(1, 0) is a DESCENDING Spark sequence ([1, 0] → two
    empty-string "chars") and the p·log2(p) terms divide by length=0, so
    the unguarded expression is a DIVIDE_BY_ZERO abort under ANSI mode.
    Empty text returns (0, 0, 0.0); NULL text returns NULLs — both
    matching the DuckDB oracle (generate_series(1, 0) is empty there)."""
    c = text_col
    ent = F.expr(
        f"""round(aggregate(
              array_sort(array_distinct(
                transform(sequence(1, length({c})), i -> substring({c}, i, 1)))),
              cast(0.0 as double),
              (acc, cc) -> acc - (
                size(filter(transform(sequence(1, length({c})),
                                      i -> substring({c}, i, 1)),
                            x -> x = cc)) / cast(length({c}) as double)
              ) * log2(
                size(filter(transform(sequence(1, length({c})),
                                      i -> substring({c}, i, 1)),
                            x -> x = cc)) / cast(length({c}) as double)
              )), 4)"""
    )
    n = F.length(c)
    distinct = F.size(F.array_distinct(
        F.expr(f"transform(sequence(1, length({c})), i -> substring({c}, i, 1))")
    ))
    return df.select(
        F.col(id_col).alias("id"),
        n.cast("long").alias("n_chars"),
        F.when(n > 0, distinct)
        .when(n == 0, F.lit(0))
        .cast("long").alias("distinct_chars"),
        F.when(n > 0, ent)
        .when(n == 0, F.lit(0.0))
        .cast("double").alias("entropy_bits"),
    )


# Literal weight vector for the model-based quality filter. Stand-ins
# with the right signs (more alphabetic text, more stopwords → higher
# quality; very long tokens → lower); swap for learned coefficients
# without changing the plan shape.
QUALITY_CLF_WEIGHTS = {
    "alpha_ratio": 2.5,
    "stop_ratio": 3.0,
    "avg_token_len": -0.3,
    "log_tokens": 0.4,
}
QUALITY_CLF_BIAS = -2.0


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: dict[str, float] | None = None,
    bias: float = QUALITY_CLF_BIAS,
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality filtering (the CCNet/fastText-classifier
    stage of a training-data pipeline): a logistic model over the
    token_stats features — score = σ(b + w·x) ∈ [0,1], keep = score ≥
    threshold. Returns (id, quality_score, keep).

    The weight vector enters the plan as literals, so Catalyst constant-
    folds the whole model into the SAME single codegen'd projection that
    computes the features: one map-only pass over the corpus, no
    shuffle, no Python, no model-server hop. At 100 TB that is the only
    acceptable shape for a per-document scorer. Features enter the model
    at token_stats' published 4-dp rounding, so any engine computing the
    same stats derives the identical score (the DuckDB oracle does);
    the score itself is rounded to 6 dp before the threshold test.

    Features: alpha_ratio, stop_ratio, avg_token_len (from
    token_stat_cols) plus log_tokens = ln(1 + n_tokens).

    Reference role: generalizes the reference's flag→score combination
    (scoring.py:24-48 — weighted rule flags → bounded score → binary
    verdict) from hand rules to a learned linear model over documents.
    """
    score = quality_score_col(text_col, weights=weights, bias=bias)
    return df.select(
        F.col(id_col).alias("id"),
        score.alias("quality_score"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )


def quality_score_col(
    text_col: str,
    weights: dict[str, float] | None = None,
    bias: float = QUALITY_CLF_BIAS,
):
    """The quality_classifier score as a bare column expression (same
    literal weights, same 4-dp feature rounding via token_stat_cols,
    same 6-dp score rounding) — the single source of truth the batch
    classifier, the corpus report, and the curation gates all fold into
    their own fused projections (no join on id, one scan)."""
    stats = token_stat_cols(text_col)
    w = dict(QUALITY_CLF_WEIGHTS if weights is None else weights)
    feats = {
        "alpha_ratio": stats["alpha_ratio"],
        "stop_ratio": stats["stop_ratio"],
        "avg_token_len": stats["avg_token_len"],
        "log_tokens": F.log(F.lit(1.0) + stats["n_tokens"]),
    }
    unknown = set(w) - set(feats)
    if unknown:
        raise ValueError(f"unknown quality features: {sorted(unknown)}")
    z = F.lit(float(bias))
    for name, weight in w.items():
        z = z + F.lit(float(weight)) * feats[name]
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).cast("double")


# GPT-2-family pretokenizer, RE2-safe (no lookarounds — Spark's Java
# regex and DuckDB's RE2 agree on leftmost-first alternation for this
# pattern): contractions, space-prefixed letter runs, digit runs,
# punctuation runs. Whitespace that precedes a token rides the token
# (the " ?" prefixes); other whitespace is skipped, not counted.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tokenizer-realistic token counting (the round brief's "whitespace
    + a BPE-ish regex"): (id, n_bpe_tokens, n_ws_tokens, chars_per_token).

    Whitespace counts (token_stats) undercount what a subword tokenizer
    bills for punctuation-dense or contraction-heavy text, so token-
    budget decisions (pack_token_budget, context-window chunking, corpus
    mixing quotas) made on them systematically overpack. n_bpe_tokens
    applies the GPT-2-style pretokenizer split — the stage that decides
    token BOUNDARIES; BPE merges within a pretoken only reduce count, so
    this is a stable conservative budget estimate. chars_per_token makes
    the usual ~4-chars-per-token folklore a measured per-document column.

    One regexp_extract_all + size() per row — a single map-only
    codegen'd projection, no shuffle, no UDF; the same RE2-safe pattern
    runs verbatim in the DuckDB oracle.
    """
    toks = F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_SPLIT_PATTERN), F.lit(0)
    )
    n_bpe = F.size(toks)
    n_ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    return df.select(
        F.col(id_col).alias("id"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_ws.cast("long").alias("n_ws_tokens"),
        F.round(
            F.when(n_bpe > 0, F.length(F.col(text_col)) / n_bpe).otherwise(F.lit(0.0)),
            4,
        ).cast("double").alias("chars_per_token"),
    )


def _char_ngrams(text_col: str, n: int):
    """Array of overlapping character n-grams; empty for texts shorter
    than n (guarded — sequence(1, len-n+1) would otherwise run DESCENDING
    for short texts, the char_entropy empty-doc bug class).

    Implementation note (measured, not theoretical): substring(text, i,
    n) per position is O(len) per call on UTF8String (char indexing
    scans from the start), i.e. O(len²) per document — invisible on the
    200-char oracle docs, a 1000x stall on 4-16 KB corpus documents.
    Splitting to a char array ONCE and slicing it (offset-indexed,
    O(n) per gram) makes extraction O(len·n). Surrogate-pair caveat:
    split('') yields UTF-16 units for astral chars; BMP text (all of
    the oracle corpus) is unaffected."""
    c = F.col(text_col)
    chars = F.split(c, "")
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: F.array_join(F.slice(chars, i, n), ""),
        ),
    ).otherwise(F.array().cast("array<string>"))


_LM_METHODS = ("arrow", "sql")


def _check_lm_method(method: str) -> None:
    if method not in _LM_METHODS:
        raise ValueError(
            f"unknown LM method {method!r}; expected one of {_LM_METHODS}")


def char_ngram_model(
    ref: DataFrame, text_col: str, n: int = 3, top_k: int = 50_000,
    method: str = "arrow",
) -> DataFrame:
    """Character n-gram language model from a reference corpus:
    (ngram, cnt, logp) for the top_k most frequent n-grams, with
    logp = ln(cnt / total) where total counts EVERY n-gram occurrence
    (the dropped tail keeps its probability mass — unseen n-grams score
    the floor at scoring time, the standard truncated-LM convention).

    The reference corpus is a curated in-domain SAMPLE (CCNet trains on
    Wikipedia, not the crawl), so the n-gram explode+count here runs
    over bounded input; the model itself is top_k rows — broadcast-sized
    by construction. Ties in the top_k cut break deterministically
    (count DESC, ngram ASC), so the model is reproducible run-to-run.

    method: "arrow" (default) counts with map-side Counter partials in
    mapInPandas; "sql" is the pure-expression oracle form (explode +
    count), O(len²) per document (see _char_ngrams).
    """
    _check_lm_method(method)
    if method == "arrow":
        import pandas as pd  # local: executor import

        def partial_counts(batches):
            from collections import Counter

            for pdf in batches:
                cnt = Counter()
                for t in pdf["__t__"]:
                    if t is not None and len(t) >= n:
                        cnt.update(t[i:i + n] for i in range(len(t) - n + 1))
                if cnt:
                    yield pd.DataFrame(
                        {"ngram": list(cnt.keys()), "c": list(cnt.values())}
                    )

        counts = (
            ref.select(F.col(text_col).alias("__t__"))
            .mapInPandas(partial_counts, "ngram string, c long")
            .groupBy("ngram").agg(F.sum("c").alias("cnt"))
        )
    else:
        grams = _char_ngrams(text_col, n)
        counts = (
            ref.select(F.explode(grams).alias("ngram"))
            .groupBy("ngram").agg(F.count(F.lit(1)).alias("cnt"))
        )
    total = counts.agg(F.sum("cnt").cast("double").alias("tot"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("ngram").asc()).limit(top_k)
    return top.crossJoin(F.broadcast(total)).select(
        "ngram", "cnt",
        F.round(F.log(F.col("cnt") / F.col("tot")), 6).alias("logp"),
    )


def _pack_ngram(g: str, n: int) -> int:
    """Pack an n-gram's codepoints into one int: 21 bits per char,
    big-endian. Exact (collision-free) for n <= 3 since unicode
    codepoints are < 2^21 and 3·21 = 63 bits fit a uint64."""
    v = 0
    for ch in g:
        v = (v << 21) | ord(ch)
    return v


def _utf8_to_codepoints(b):
    """Vectorized UTF-8 → codepoint decode of a uint8 numpy buffer
    (valid UTF-8 assumed — it came out of Arrow, which guarantees it).
    One gather per continuation position + one three-way select; no
    Python-level per-character work. Returns uint64 codepoints."""
    import numpy as np

    bp = np.concatenate([b, np.zeros(3, dtype=np.uint8)]).astype(np.uint64)
    starts = np.nonzero((b & 0xC0) != 0x80)[0]
    lead = bp[starts]
    c1 = bp[starts + 1] & np.uint64(0x3F)
    c2 = bp[starts + 2] & np.uint64(0x3F)
    c3 = bp[starts + 3] & np.uint64(0x3F)
    return np.where(
        lead < 0x80, lead,
        np.where(
            lead < 0xE0, ((lead & np.uint64(0x1F)) << np.uint64(6)) | c1,
            np.where(
                lead < 0xF0,
                ((lead & np.uint64(0x0F)) << np.uint64(12))
                | (c1 << np.uint64(6)) | c2,
                ((lead & np.uint64(0x07)) << np.uint64(18))
                | (c1 << np.uint64(12)) | (c2 << np.uint64(6)) | c3,
            ),
        ),
    )


def cross_entropy_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    n: int = 3,
    floor_logp: float = -20.0,
    method: str = "arrow",
) -> DataFrame:
    """CCNet-style LM quality filter: per-document cross-entropy under a
    char n-gram model — (id, n_ngrams, bits_per_ngram), lower = more
    in-domain, perplexity = 2^bits_per_ngram. Documents shorter than n
    have no n-grams and are omitted (they carry no LM evidence; gate
    them on length instead).

    Shape at corpus scale (method="arrow", default): the model is a
    driver dict broadcast once (top_k entries); ONE map-only pass bills
    every document inside its own partition — zero shuffles. For n <= 3
    the default path is mapInArrow over the RAW ARROW BUFFERS (round-4
    judge item 6): the string column's UTF-8 values buffer IS the
    concatenated corpus, so scoring reads it as one numpy view — no
    pandas Series, no per-document Python str, no ''.join/encode
    round-trips (which the r4 audit measured as ~83% of wall time in the
    pandas-vectorized path). ASCII chunks use the bytes as codepoints
    directly; non-ASCII chunks go through a vectorized UTF-8 decode
    (_utf8_to_codepoints); BENCH/lm_arrow_ab_r5.json measured it at
    5.87 s against 6.10 s for the pandas kernel it replaced and 18.1 s
    for the dict loop (1M heavy docs). For n > 3 the 21-bit pack
    overflows, so scoring falls back to that dict-get loop in
    mapInPandas. method="sql" is the pure-expression oracle
    formulation (explode → broadcast join → map-side-combined
    groupBy(id)); correct but O(len²) in document size from the
    per-element lambda (see char_ngram_model) — small-doc oracle use
    only. Unseen n-grams take floor_logp (model logp is 6-dp rounded
    before averaging so the float fold is engine-stable; the mean is
    4-dp, which absorbs the methods' summation-order ulps).

    Reference role: the learned sibling of the rule-based quality gates
    (reference rule_based_anomaly_detection.py's threshold flags) — a
    score distribution to threshold, not a hand predicate.
    """
    _check_lm_method(method)
    if method == "arrow":
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        lut = {r["ngram"]: float(r["logp"])
               for r in model.select("ngram", "logp").collect()}
        fl = float(floor_logp)
        ln2 = math.log(2.0)
        # Vectorized path (n <= 3): each n-gram's codepoints pack
        # EXACTLY into one uint64 (unicode < 2^21, so 3·21 = 63 bits) —
        # the model becomes a sorted key array + logp array, and scoring
        # is a rolling shift-or over the batch's codepoints plus one
        # np.searchsorted, no per-character Python. For n > 3 the pack
        # would overflow, so the dict-get loop remains the fallback.
        vec_ok = n <= 3
        if vec_ok:
            keys = np.fromiter(
                (_pack_ngram(g, n) for g in lut), dtype=np.uint64, count=len(lut)
            )
            order = np.argsort(keys, kind="stable")
            keys = keys[order]
            vals = np.fromiter(lut.values(), dtype=np.float64)[order]
            bc = df.sparkSession.sparkContext.broadcast((keys, vals))
        else:
            bc = df.sparkSession.sparkContext.broadcast(lut)

        def score_loop(batches):
            g = bc.value.get
            for pdf in batches:
                ids, cnts, bits = [], [], []
                for i, t in zip(pdf["__id__"], pdf["__t__"]):
                    if t is None or len(t) < n:
                        continue
                    m = len(t) - n + 1
                    ssum = 0.0
                    for j in range(m):
                        ssum += g(t[j:j + n], fl)
                    ids.append(i)
                    cnts.append(m)
                    bits.append(round(-ssum / m / ln2, 4))
                yield pd.DataFrame(
                    {"id": ids, "n_ngrams": cnts, "bits_per_ngram": bits}
                )

        def score_arrow(rbs):
            """mapInArrow kernel: consume the Arrow string buffers
            directly. The values buffer is the batch's concatenated
            UTF-8 — one numpy view replaces a pandas->str->''.join->
            encode chain."""
            import pyarrow as pa

            skeys, svals = bc.value
            # ~256 KB byte chunks: EVERY numpy temporary below is
            # chunk-sized, never batch-sized. Whole-batch numpy ops are
            # per-core fast but saturate memory bandwidth at full
            # parallelism (the r4 audit measured a whole-batch kernel at
            # ~102 s on 1 task and on 64 tasks alike, 18x slower than
            # the dict loop); a whole-batch cumsum here once made an
            # int64 temporary 8x the batch bytes (~300 MB per 37 MB
            # batch). Cache-resident chunks leave DRAM only the
            # compulsory traffic.
            _CHUNK_BYTES = 1 << 18
            for rb in rbs:
                id_arr, t_arr = rb.column(0), rb.column(1)
                nrows = len(t_arr)
                if nrows == 0:
                    continue
                off_dt = (np.int64 if pa.types.is_large_string(t_arr.type)
                          else np.int32)
                bufs = t_arr.buffers()
                offs = np.frombuffer(bufs[1], dtype=off_dt)[
                    t_arr.offset:t_arr.offset + nrows + 1].astype(np.int64)
                data = (np.frombuffer(bufs[2], dtype=np.uint8)
                        if bufs[2] is not None
                        else np.zeros(0, dtype=np.uint8))  # all-null batch
                valid = (np.ones(nrows, dtype=bool) if t_arr.null_count == 0
                         else t_arr.is_valid().to_numpy(
                             zero_copy_only=False).astype(bool))
                keep = np.zeros(nrows, dtype=bool)
                m_doc = np.zeros(nrows, dtype=np.int64)
                bits_doc = np.zeros(nrows, dtype=np.float64)
                d = 0
                while d < nrows:
                    e, tot = d, 0
                    while e < nrows and tot < _CHUNK_BYTES:
                        tot += int(offs[e + 1] - offs[e])
                        e += 1
                    seg = data[offs[d]:offs[e]]
                    if len(seg) == 0:
                        d = e
                        continue
                    # per-doc codepoint counts from the chunk's
                    # non-continuation-byte cumsum (chunk-sized temp)
                    cum = np.zeros(len(seg) + 1, dtype=np.int64)
                    np.cumsum((seg & 0xC0) != 0x80, out=cum[1:])
                    rel = offs[d:e + 1] - offs[d]
                    clen = cum[rel[1:]] - cum[rel[:-1]]
                    kc = valid[d:e] & (clen >= n)
                    if not kc.any():
                        d = e
                        continue
                    keep[d:e] = kc
                    m = clen - (n - 1)
                    m_doc[d:e] = np.where(kc, m, 0)
                    if seg.max() < 0x80:  # pure ASCII: bytes ARE codepoints
                        cp = seg.astype(np.uint64)
                    else:
                        cp = _utf8_to_codepoints(seg)
                    coffs = cum[rel]  # doc starts in codepoint units
                    gram = cp[:len(cp) - n + 1] << np.uint64(21 * (n - 1))
                    for j in range(1, n):
                        gram |= cp[j:len(cp) - n + 1 + j] << np.uint64(
                            21 * (n - 1 - j))
                    if len(skeys):
                        idx = np.searchsorted(skeys, gram)
                        np.minimum(idx, len(skeys) - 1, out=idx)
                        lp = svals[idx]
                        lp[skeys[idx] != gram] = fl
                    else:
                        lp = np.full(len(gram), fl)
                    csum = np.concatenate([[0.0], np.cumsum(lp)])
                    kl = np.nonzero(kc)[0]
                    starts = coffs[kl]
                    mk = m[kl]
                    bits_doc[d + kl] = np.round(
                        -(csum[starts + mk] - csum[starts]) / mk / ln2, 4)
                    d = e
                if not keep.any():
                    continue
                kidx = np.nonzero(keep)[0]
                take = pa.array(kidx, type=pa.int64())
                yield pa.record_batch(
                    [id_arr.take(take),
                     pa.array(m_doc[kidx], type=pa.int64()),
                     pa.array(bits_doc[kidx], type=pa.float64())],
                    names=["id", "n_ngrams", "bits_per_ngram"],
                )

        out_schema = T.StructType([
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("n_ngrams", T.LongType()),
            T.StructField("bits_per_ngram", T.DoubleType()),
        ])
        narrow = df.select(
            F.col(id_col).alias("__id__"), F.col(text_col).alias("__t__")
        )
        if vec_ok:
            return narrow.mapInArrow(score_arrow, out_schema)
        return narrow.mapInPandas(score_loop, out_schema)

    grams = _char_ngrams(text_col, n)
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(grams).alias("ngram")
    )
    joined = exploded.join(
        F.broadcast(model.select("ngram", "logp")), "ngram", "left"
    )
    lp = F.coalesce(F.col("logp"), F.lit(float(floor_logp)))
    return joined.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ngrams"),
        F.round(-F.avg(lp) / math.log(2.0), 4).cast("double")
        .alias("bits_per_ngram"),
    )


# U+2018 U+2019 U+201C U+201D U+2013 U+2014 U+2212 U+00A0 TAB -> ASCII
NORM_TRANSLATE_SRC = "\u2018\u2019\u201c\u201d\u2013\u2014\u2212\u00a0\t"
NORM_TRANSLATE_DST = "''\"\"---  "


def normalize_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lowercase: bool = False,
    out_col: str = "norm_text",
) -> DataFrame:
    """Canonical text normalization — the cleanup stage that runs BEFORE
    hashing/shingling so that cosmetic variants (curly quotes, em
    dashes, NBSP, control chars, ragged whitespace) do not defeat exact
    and near dedup. Returns (id, out_col, changed).

    Steps, in order (each a plain column expression; the whole operator
    is ONE map-only codegen'd projection):
      1. unify unicode punctuation to ASCII: curly single/double quotes
         → ' / ", en/em dash and minus → -, ellipsis → "...";
      2. map NBSP and tab to space, strip other C0 control chars;
      3. collapse whitespace runs to single spaces and trim;
      4. optional lowercase.
    `changed` flags rows the normalization actually altered — the audit
    column that lets a pipeline count normalization impact for free.

    Engine-portable by construction (translate + regexp_replace exist
    identically in DuckDB), which is what makes the oracle exact.
    """
    c = F.col(text_col)
    # curly quotes / dashes / ellipsis -> ASCII (translate is 1:1 per
    # char; explicit escape constants, not invisible literals)
    step = F.translate(c, NORM_TRANSLATE_SRC, NORM_TRANSLATE_DST)
    step = F.regexp_replace(step, "…", "...")
    # strip remaining C0 controls (keep \n for the whitespace collapse)
    step = F.regexp_replace(step, "[\\x00-\\x08\\x0b-\\x1f\\x7f]", "")
    step = F.trim(F.regexp_replace(step, "\\s+", " "))
    if lowercase:
        step = F.lower(step)
    return df.select(
        F.col(id_col).alias("id"),
        step.alias(out_col),
        (~step.eqNullSafe(c)).alias("changed"),
    )
