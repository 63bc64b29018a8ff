"""Text analysis operators (north-star: language-ID, quality scoring, token
counting, document fingerprinting) — all pure expressions over the
``documents`` table shape (doc_id, text, lang, source, n_chars).

The reference has only a word-count filter (``etl_slimpajama_dc_proc.py:142``)
and delegates text judgment to LLMs; these operators provide the cheap
JVM-side pre-filters a 100 TB training-data pipeline runs *before* any model
sees a byte.
"""

from __future__ import annotations

from typing import Iterator  # module-level: stringified UDF hints resolve here

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints must resolve `pd`
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from instructionspipe_spark.functions.text import whitespace_tokens, word_count

# Minimal stopword inventories for an n-gram/stopword-ratio language heuristic.
# Deliberately tiny and deterministic — language ID at scale is a scoring
# problem, not a model problem, for coarse routing.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "de", "des", "est", "un", "une", "que"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "es"],
}


def _lower_tokens(text: Column) -> Column:
    return whitespace_tokens(F.lower(F.regexp_replace(text, r"[^\p{L}\p{N}\s]", "")))


def stopword_ratio_from_tokens(toks: Column, lang: str) -> Column:
    """Fraction of ``toks`` (pre-lowered word tokens) that are stopwords of
    ``lang``. Take tokens from a MATERIALIZED column when combining several
    ratios: Catalyst does not CSE the tokenization regex across sibling
    expressions, so inlining ``_lower_tokens`` into N ratios tokenizes N
    times (measured 4x on the language_quality query)."""
    hits = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS[lang])))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks).cast("double")).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(text: Column, lang: str) -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    return stopword_ratio_from_tokens(_lower_tokens(text), lang)


def detect_language_from_tokens(toks: Column, langs: list[str] | None = None) -> Column:
    """argmax over per-language stopword ratios of a pre-tokenized column;
    'und' (undetermined) when no stopword hits at all. Ties resolve to the
    first language in order."""
    langs = langs or list(_STOPWORDS)
    scores = [stopword_ratio_from_tokens(toks, lg) for lg in langs]
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    expr = F.when(best <= 0, F.lit("und"))
    for lg, sc in zip(langs, scores):
        expr = expr.when(sc == best, F.lit(lg))
    return expr


def detect_language(text: Column, langs: list[str] | None = None) -> Column:
    """argmax over per-language stopword ratios; 'und' (undetermined) when no
    stopword hits at all. Ties resolve to the first language in order."""
    return detect_language_from_tokens(_lower_tokens(text), langs)


def token_count(text: Column) -> Column:
    """BPE-ish token estimate without a tokenizer: word-piece count where a
    word of length L contributes ceil(L/4) pieces plus standalone
    punctuation/digit runs. Deterministic, vectorized, ~GPT-tokenizer-order
    accurate for budgeting (the reference uses an HF tokenizer, F17 — that
    stays available as a pandas-UDF plugin where exactness matters)."""
    words = whitespace_tokens(text)
    word_pieces = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )
    punct_runs = F.size(F.filter(F.split(text, r"[\w\s]+"), lambda s: s != ""))
    return (word_pieces + punct_runs).cast("long")


def quality_score_from_tokens(text: Column, toks: Column) -> Column:
    """:func:`quality_score` taking the stopword tokens from a materialized
    column (see :func:`stopword_ratio_from_tokens` for why)."""
    n_words = word_count(text)
    n_chars = F.length(text)
    mean_word_len = F.when(n_words > 0, n_chars.cast("double") / n_words.cast("double")).otherwise(F.lit(0.0))
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars.cast("double")).otherwise(F.lit(0.0))
    sw = F.greatest(*[stopword_ratio_from_tokens(toks, lg) for lg in _STOPWORDS])
    len_ok = F.when((n_words >= 5) & (n_words <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    wordlen_ok = F.when((mean_word_len >= 3.0) & (mean_word_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    sw_ok = F.when(sw > 0.0, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + wordlen_ok + punct_ok + sw_ok) / F.lit(4.0)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: mean word length in a sane band,
    punctuation ratio not extreme, stopword evidence present, length band.
    Mirrors the C4/Gopher-style rule families as one deterministic score."""
    return quality_score_from_tokens(text, _lower_tokens(text))


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple = ("lang",),
) -> DataFrame:
    """Gopher-style repetition signals per document: word totals, distinct
    words, top-word fraction and duplicate-word fraction — the cheap
    repetition filters a corpus-prep pipeline applies before any model
    scoring (reference's only text gate is a word-count filter,
    ``etl_slimpajama_dc_proc.py:142``; these are its standard extensions).

    Distributed word-count shape: explode words -> (doc, word) partial
    count -> per-doc aggregate. Two shuffles keyed by (doc, word) then doc
    — uniform keys, map-side combine on both, no per-row Python, so the
    plan is the same one a 100 TB corpus would want. ``explode_outer``
    keeps zero-word documents (empty/whitespace/NULL text) with zeroed
    stats instead of dropping them."""
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    words = df.select(
        id_col, *keep_cols, F.explode_outer(_lower_tokens(F.col(text_col))).alias("__w")
    )
    per_word = words.groupBy(id_col, *keep_cols, "__w").agg(F.count(F.lit(1)).alias("__c"))
    agg = per_word.groupBy(id_col, *keep_cols).agg(
        F.sum(F.when(F.col("__w").isNotNull(), F.col("__c")).otherwise(0)).alias("n_words"),
        F.count(F.when(F.col("__w").isNotNull(), 1)).alias("n_distinct_words"),
        F.max(F.when(F.col("__w").isNotNull(), F.col("__c")).otherwise(0)).alias("__top"),
    )
    n_words = F.col("n_words").cast("double")
    return agg.select(
        id_col,
        *keep_cols,
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_distinct_words").cast("bigint").alias("n_distinct_words"),
        # k/n word ratios are exact decimal rationals that land on round
        # boundaries where the engines' double-ROUNDs disagree — quantize
        # through decimal first (mirrored in the oracle SQL).
        F.when(
            F.col("n_words") > 0,
            F.round((F.col("__top") / n_words).cast("decimal(25,10)"), 6).cast(
                "double"
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("top_word_fraction"),
        F.when(
            F.col("n_words") > 0,
            F.round(
                (1.0 - F.col("n_distinct_words") / n_words).cast("decimal(25,10)"),
                6,
            ).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_word_fraction"),
    )


def _fingerprint_kernel(ngram: int):
    """Arrow kernel of the fingerprint min-hash: linear in document length
    (slicing a Python str is O(1) per gram) and md5s each DISTINCT gram
    once."""
    import hashlib

    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def kernel(norm: pd.Series) -> pd.Series:
        out = np.full(len(norm), None, dtype=object)
        for i, s in enumerate(norm):
            if s is None:
                continue
            grams = {s[j : j + ngram] for j in range(max(len(s) - ngram + 1, 1))}
            out[i] = min(hashlib.md5(g.encode()).hexdigest() for g in grams)
        return pd.Series(out)

    return kernel


def doc_fingerprint(text: Column, ngram: int = 8) -> Column:
    """Document fingerprint: lexicographic-min md5 over character n-grams of
    the normalized text (a winnowing-style rolling-hash min). Identical and
    near-boilerplate documents collide; robust to leading/trailing noise
    shorter than the window. Falls back to md5(text) for short docs."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return _fingerprint_kernel(ngram)(norm)


def char_entropy(text: Column) -> Column:
    """Shannon entropy (bits/char, base 2) of the character distribution of
    ``text`` — the classic cheap gibberish/repetition signal: natural-language
    prose sits near 4–4.5 bits, single-char spam near 0, uniform random
    base64 near 6. NULL text -> NULL, empty -> 0.0.

    Scale shape: pure per-row expression — no shuffle, no explode (a
    char-explode + groupBy formulation shuffles |corpus| * avg_doc_len rows;
    this computes the histogram row-locally) and no Python worker. Cost is
    O(distinct_chars * len) per row under interpreted higher-order
    functions; on the sf0.1 documents (local[32], min of 3 noop writes) it
    measured 0.81x the time of an Arrow histogram kernel, whose transfer
    constant outweighs the lambda at these per-row distinct-char counts.
    The kernel's O(len) would win on long documents with many distinct
    characters (a 50k-char doc with 100 distinct chars is 5M lambda steps).

    The reference has no quality scoring (it delegates judgment to LLMs,
    ``src/python/instructionspipe/impl/judge*`` ); entropy is the pre-LLM
    filter a 100 TB pipeline runs first.
    """
    chars = F.split(text, "")
    n = F.size(chars)
    # Sorted distinct chars: UTF-8 binary order == code-point order, so the
    # sum runs in a fixed order on every partitioning.
    probs = F.transform(
        F.array_sort(F.array_distinct(chars)),
        lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double") / n.cast("double"),
    )
    ent = -F.aggregate(
        probs, F.lit(0.0), lambda acc, p: acc + p * F.log2(p)
    )
    return F.when(text.isNull(), F.lit(None).cast("double")).otherwise(
        F.when(n == 0, F.lit(0.0)).otherwise(ent)
    )


def distinct_char_count(text: Column) -> Column:
    """Number of distinct characters in ``text`` (companion signal to
    :func:`char_entropy`: low entropy + low distinct count = repetition;
    low entropy + high count = skewed but rich). Empty -> 0 (Spark's
    ``split('', '')`` yields ``['']``, which would count as one)."""
    return F.when(F.length(text) == 0, F.lit(0)).otherwise(
        F.size(F.array_distinct(F.split(text, "")))
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All text-analysis columns at once (single pass over the text)."""
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    t = F.col(text_col)
    return df.select(
        "*",
        word_count(t).alias("n_words"),
        token_count(t).alias("n_tokens"),
        detect_language(t).alias("lang_detected"),
        quality_score(t).alias("quality"),
        doc_fingerprint(t).alias("fingerprint"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    round_digits: int = 6,
    max_vocab: int | None = None,
) -> DataFrame:
    """Per-document top-``k`` terms by tf-idf (smooth idf
    ``ln((N+1)/(df+1))``) — the keyword-extraction staple of corpus
    curation, fully relational. Plan: explode tokens -> per (doc, term)
    counts (one shuffle, map-side partials) -> per-term document frequency
    (second partial agg over the ALREADY-reduced tf frame, not the raw
    tokens) -> join tf to the vocabulary-sized idf side (AQE picks the
    strategy) -> broadcast 1-row corpus count -> per-doc top-k window
    (partitions bounded by per-document vocabulary, never corpus-sized).
    Scores are rounded BEFORE ranking on both engines so cross-engine
    float ulps can't flip the order; ties break on the term.

    ``max_vocab`` is the 100-TB vocabulary cap (sklearn ``max_features``
    semantics): scoring restricts to the N most-document-frequent terms
    (ties on the term), so the idf side and the tf join stay bounded when
    the corpus vocabulary grows with scale (SCALING.md third decade: the
    doc-frequency join is this operator's growth term). Default ``None``
    keeps the exact full-vocabulary semantics the oracle checks."""
    from instructionspipe_spark.session import ensure_parallelism

    from pyspark.sql import Window

    df = ensure_parallelism(df)
    tf = (
        df.select(F.col(id_col), F.explode(_lower_tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    if max_vocab is not None:
        # vocabulary-sized frame: orderBy().limit() compiles to TakeOrdered
        docfreq = docfreq.orderBy(F.desc("__df"), F.asc("term")).limit(int(max_vocab))
    total = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    score = F.round(
        F.col("__tf") * F.log((F.col("__n_docs") + F.lit(1.0)) / (F.col("__df") + F.lit(1.0))),
        round_digits,
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("tfidf", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "rnk", "tfidf")
    )


def unigram_doc_logprob(
    df: DataFrame, id_col: str, text_col: str, round_digits: int = 6
) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram distribution (add-one smoothing) — the classic cheap
    language-model quality signal: gibberish and boilerplate-free outlier
    documents score far below the corpus mode, without training anything.
    Plan: tokens -> term counts (one shuffle, map-side partials) -> 1-row
    totals broadcast -> token stream joins the vocabulary-sized frequency
    table (AQE) -> per-doc mean (second partial agg). Docs with no tokens
    are absent from the output (no synthetic score)."""
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    toks = df.select(F.col(id_col), F.explode(_lower_tokens(F.col(text_col))).alias("term"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("__tc"))
    totals = freq.agg(
        F.sum("__tc").alias("__n_tokens"), F.count(F.lit(1)).alias("__vocab")
    )
    logp = F.log(
        (F.col("__tc") + F.lit(1.0)) / (F.col("__n_tokens") + F.col("__vocab").cast("double"))
    )
    return (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            # Mean through an exact-decimal numerator: quantize each ln term
            # to 12 dp (identical on both engines since the input double is
            # identical), sum exactly (order-free), divide once in double,
            # then quantize again before the final ROUND so neither engine's
            # double-ROUND shortest-repr behavior can flip a boundary.
            F.round(
                (
                    F.sum(logp.cast("decimal(25,12)")).cast("double")
                    / F.count(F.lit(1))
                ).cast("decimal(25,10)"),
                round_digits,
            )
            .cast("double")
            .alias("mean_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def token_count_bpe(text_col, merges: list[list[str]] | None = None) -> Column:
    """F17 exact token counting via the self-contained BPE tokenizer
    (``functions/bpe.py``; vendored merge-table fixture by default) as an
    iterator-form Arrow pandas UDF — the tokenizer loads once per TASK
    before the batch loop, identical execution shape to the
    ``transformers`` path in :func:`token_count_hf`, so this code path is
    exercised end-to-end even where ``transformers`` is absent and a
    production merge table swaps in without changing the plan. (Reference
    counts with an HF tokenizer, ``apps/cost_estimator_inf.py:53-63``.)"""
    import json as _json

    from pyspark.sql import types as T

    merges_json = _json.dumps(merges) if merges is not None else None

    @F.pandas_udf(T.LongType())
    def _count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from instructionspipe_spark.functions.bpe import BpeTokenizer as _Tok

        tok = _Tok(_json.loads(merges_json)) if merges_json else _Tok.fixture()
        for texts in batches:
            yield texts.map(tok.count)

    return _count(text_col if not isinstance(text_col, str) else F.col(text_col))


def token_count_hf(text_col: str, model_name: str = "gpt2", tokenizer_factory=None):
    """F17 exact token counting via a HuggingFace tokenizer inside an
    Arrow-batched pandas UDF (the reference counts with an HF tokenizer,
    ``apps/cost_estimator_inf.py:53-63``). Gated: raises ImportError where
    ``transformers`` is absent (this environment) — :func:`token_count` is
    the always-available estimator and :func:`token_count_bpe` the
    always-available EXACT path (same iterator-UDF shape, vendored merge
    table). Iterator-form UDF: the tokenizer loads once per TASK (before
    the batch loop), not once per Arrow batch.

    ``tokenizer_factory`` (picklable ``() -> tokenizer-with-.encode``)
    overrides the default transformers loader — the seam that lets tests
    replay a canned tokenizer through the REAL worker-side UDF machinery
    (monkeypatching sys.modules only patches the driver process)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if tokenizer_factory is None:
        try:
            import transformers  # noqa: F401
        except ImportError as e:  # pragma: no cover - env without transformers
            raise ImportError(
                "token_count_hf requires the 'transformers' package; use "
                "token_count (expression estimator) instead"
            ) from e

        def tokenizer_factory():
            from transformers import AutoTokenizer

            return AutoTokenizer.from_pretrained(model_name)

    @F.pandas_udf(T.LongType())
    def _count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        tok = tokenizer_factory()
        for texts in batches:
            yield texts.map(lambda t: len(tok.encode(t)) if t is not None else 0)

    return _count(F.col(text_col))


def frequent_word_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = None,
    ngram_words: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Corpus-wide most-frequent word n-grams with document frequency — the
    boilerplate detector a pipeline runs BEFORE choosing dedup parameters
    (a handful of n-grams covering a large doc fraction predicts LSH
    mega-buckets and motivates block dedup / template stripping).

    Output: ``(ngram, n_occurrences, n_docs, rank)`` — top ``top_k`` by
    total occurrences, ties broken by the n-gram string for determinism.
    ``id_col`` identifies documents for the distinct-doc count (falls back
    to ``monotonically_increasing_id`` — fine operationally, but pass a
    real id for cross-engine reproducibility).

    Scale shape: explode cheap positions (the n-gram string materializes
    after the explode, in codegen); ONE aggregation keyed by the n-gram with
    map-side partial counts (a viral n-gram collapses per task before the
    exchange); top-k is a TakeOrdered over the aggregated (distinct-ngram
    sized) frame, not a full sort.
    """
    from pyspark.sql import Window

    from instructionspipe_spark.functions.text import shingle_normalize
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    doc = F.col(id_col) if id_col else F.monotonically_increasing_id()
    toks = F.filter(F.split(shingle_normalize(F.col(text_col)), " "), lambda t: t != "")
    cnt = F.size(F.col("__toks"))
    # sequence(1, 0) is DESCENDING, not empty — guard docs shorter than n.
    seq = F.when(
        cnt >= ngram_words, F.sequence(F.lit(1), cnt - F.lit(ngram_words - 1))
    ).otherwise(F.array().cast("array<int>"))
    exploded = (
        df.select(doc.alias("__doc"), toks.alias("__toks"))
        .select("__doc", "__toks", F.explode(seq).alias("__i"))
        .select(
            "__doc",
            F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i"), ngram_words)).alias("ngram"),
        )
    )
    counts = exploded.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("__doc").alias("n_docs"),
    )
    # orderBy().limit() compiles to TakeOrderedAndProject — guaranteed
    # map-side top-k regardless of optimizer version, where the previous
    # unpartitioned row_number() rank depended on Spark 3.5's
    # WindowGroupLimit to avoid a single-partition global sort (VERDICT r6
    # watch item). The re-rank window then runs over <= top_k rows.
    topk = counts.orderBy(F.desc("n_occurrences"), F.asc("ngram")).limit(top_k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("ngram"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("ngram", "n_occurrences", "n_docs", "rank")
    )


def quality_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 1024,
    threshold: float = 0.5,
    weights: DataFrame | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Hashed-linear quality classifier score — the fastText/CCNet-shaped
    filter every large pretraining pipeline runs (a linear model over hashed
    bag-of-words features; reference scope: quality gating appears only as
    hand-set length thresholds, ``etl_slimpajama_dc_proc.py``): token ->
    feature bucket ``base_hash48(token) pmod dim`` -> per-feature weight ->
    document logit = mean feature weight -> ``sigmoid`` probability ->
    keep/cut at ``threshold``.

    ``weights`` is the production seam: a ``(feature, weight)`` frame from a
    trained model, broadcast-joined (dim rows — tiny). With ``weights=None``
    a deterministic data-free pseudo-model derives each bucket's weight from
    ``md5('w|' || feature)``, uniform in [-1, 1] — same wire shape, fully
    SQL-expressible, so the whole operator is oracle-checkable end to end.

    Output: ``(id_col, n_tokens, logit, prob, keep)``; zero-token documents
    get NULL logit/prob and ``keep=false`` (nothing to judge).

    Scale shape (default path): pure per-row expression — tokenize, map
    tokens through hash->weight inside ONE higher-order ``aggregate``, no
    explode, no join, no shuffle, whole-stage codegen; a 100 TB corpus scan
    stays a scan. The ``weights`` path explodes tokens and broadcast-joins
    the dim-row weight table, then re-aggregates per doc (one shuffle keyed
    by the doc id, map-side partials).
    """
    from instructionspipe_spark.operators.dedup import base_hash48
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)

    def feat(tok: Column) -> Column:
        return F.pmod(base_hash48(tok), F.lit(dim))

    def pseudo_weight_k(feature: Column) -> Column:
        """Integer weight numerator k in [0, 2000]; the weight is (k-1000)/1000.
        Summation stays in EXACT integer space so the mean is one float
        division — engines whose float-sum accumulation orders differ
        (Spark's left fold vs DuckDB's list_sum) still round identically."""
        h = base_hash48(F.concat(F.lit("w|"), feature.cast("string")))
        return F.pmod(h, F.lit(2001))

    # NULL text tokenizes to NULL and F.size(NULL) is -1, not 0 — coalesce to
    # an empty array so zero- and null-text rows share the n_tokens=0 path.
    base = df.select(
        F.col(id_col),
        F.coalesce(
            _lower_tokens(F.col(text_col)), F.array().cast("array<string>")
        ).alias("__toks"),
    )
    if weights is None:
        ksum = F.aggregate(
            F.transform(F.col("__toks"), lambda t: pseudo_weight_k(feat(t))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        n = F.size("__toks")
        logit = (ksum - F.lit(1000) * n).cast("double") / (F.lit(1000.0) * n)
        scored = base.select(
            id_col,
            n.alias("n_tokens"),
            # logit is an exact decimal rational (integer / 1000n), so it
            # lands EXACTLY on .xxxxxx5 round boundaries where Spark's
            # shortest-repr HALF_UP and DuckDB's binary round disagree
            # (seen at sf0.1: -0.1296375 -> -0.129638 vs -0.129637).
            # Quantize through decimal so both engines round the same
            # exact value half-away-from-zero.
            F.when(
                n > 0,
                F.round(logit.cast("decimal(25,10)"), round_digits).cast(
                    "double"
                ),
            ).alias("logit"),
        )
    else:
        w = weights.select(
            F.col(weights.columns[0]).alias("__feat"), F.col(weights.columns[1]).alias("__w")
        )
        toks = base.select(id_col, F.size("__toks").alias("__n"), F.explode("__toks").alias("__t"))
        scored = (
            toks.withColumn("__feat", feat(F.col("__t")))
            .join(F.broadcast(w), "__feat", "left")
            .groupBy(id_col)
            .agg(
                F.first("__n").alias("n_tokens"),
                F.round(
                    F.avg(F.coalesce(F.col("__w"), F.lit(0.0))).cast(
                        "decimal(25,10)"
                    ),
                    round_digits,
                )
                .cast("double")
                .alias("logit"),
            )
        )
        # zero-token docs never explode — restore them with NULL logit
        scored = (
            base.select(id_col, F.size("__toks").alias("n_tokens"))
            .filter(F.col("n_tokens") == 0)
            .withColumn("logit", F.lit(None).cast("double"))
            .unionByName(scored)
        )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))), round_digits)
    return scored.select(
        id_col,
        "n_tokens",
        "logit",
        prob.alias("prob"),
        F.coalesce(prob >= F.lit(threshold), F.lit(False)).alias("keep"),
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §3.3): score
    every document with the corpus-self-trained unigram LM
    (:func:`unigram_doc_logprob`), then split each language into
    head / middle / tail terciles by score — head (most fluent third) feeds
    training directly, middle is kept-with-caution, tail is the junk
    candidate pool. CCNet uses a Wikipedia-trained 5-gram KenLM; the
    train-nothing unigram twin keeps the whole operator oracle-checkable
    while the bucketing machinery is identical.

    Output: ``(id_col, lang, mean_logprob, n_tokens, bucket)`` with bucket
    in {'head','middle','tail'}; zero-token docs are absent (no score).

    Scale shape: the LM score is unigram_doc_logprob's two partial aggs;
    the tercile cuts are ONE exact-percentile aggregate per language — a
    languages-sized frame (tiny) broadcast back; bucketing is a comparison
    against the broadcast cuts, never a per-lang global sort/ntile (an
    ntile window would put each language's entire corpus on one task). At
    100 TB swap the exact percentile for approx_percentile exactly like
    length_quantile_filter_approx — same plan, bounded state.
    """
    scores = unigram_doc_logprob(df, id_col, text_col, round_digits=round_digits)
    langs = df.select(F.col(id_col), F.col(lang_col).alias("lang"))
    scored = scores.join(langs, id_col)
    cuts = scored.groupBy("lang").agg(
        F.round(F.percentile("mean_logprob", F.lit(1.0 / 3.0)), round_digits).alias("__lo"),
        F.round(F.percentile("mean_logprob", F.lit(2.0 / 3.0)), round_digits).alias("__hi"),
    )
    bucket = (
        F.when(F.col("mean_logprob") >= F.col("__hi"), F.lit("head"))
        .when(F.col("mean_logprob") >= F.col("__lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .select(id_col, "lang", "mean_logprob", "n_tokens", bucket.alias("bucket"))
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: list[tuple[str, list[str]]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 6,
) -> DataFrame:
    """Per-query top-``k`` documents by Okapi BM25 (Robertson/Lucene form:
    idf = ln((N - df + 0.5) / (df + 0.5) + 1), always positive; tf
    saturation k1, length normalization b against the mean doc length) —
    the lexical-retrieval counterpart of the embedding ANN family and the
    drop-in first stage for rag_context_pipeline's retrieval seam.

    Plan: explode tokens once -> per (doc, term) tf + per-doc length (two
    partial aggs over the same exploded frame, the length agg reusing the
    tf frame rather than the raw tokens) -> per-term df over the REDUCED
    tf frame -> the query terms are a literal few-row frame broadcast onto
    tf via an equi-join on the term (only postings of queried terms ever
    leave the scan — the inverted-index access pattern, bounded by the
    posting lists, never corpus-sized) -> per-(query, doc) sum of
    contributions -> top-k window per query. Scores round BEFORE ranking
    with the doc id as tie break (the tfidf_top_terms discipline), so
    cross-engine float ulps can't flip the emitted order."""
    from instructionspipe_spark.session import ensure_parallelism

    from pyspark.sql import Window

    df = ensure_parallelism(df)
    toks = df.select(F.col(id_col), F.explode(_lower_tokens(F.col(text_col))).alias("term"))
    # tf feeds THREE branches (doclen, docfreq, and the scored join); the
    # plan trees differ enough that ReuseExchange never dedups them, so an
    # unpersisted tf re-explodes and re-aggregates the whole token stream
    # per branch — measured 4 full scans and a 1.12 fourth-decade exponent
    # at 5M docs. Persist the REDUCED frame once (it is corpus-vocabulary
    # sized, far smaller than the token stream).
    from instructionspipe_spark.session import managed_persist

    tf = managed_persist(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("__tf"))
    )
    doclen = tf.groupBy(id_col).agg(F.sum("__tf").alias("__dl"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    totals = doclen.agg(
        F.count(F.lit(1)).alias("__n_docs"), F.avg("__dl").alias("__avgdl")
    )
    spark = df.sparkSession
    qrows = [(qid, t) for qid, terms in queries for t in terms]
    qdf = spark.createDataFrame(qrows, ["query_id", "term"])
    idf = F.log(
        (F.col("__n_docs") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_part = (F.col("__tf") * F.lit(k1 + 1.0)) / (
        F.col("__tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl"))
    )
    contrib = F.round(idf * tf_part, round_digits + 3)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        tf.join(F.broadcast(qdf), "term")
        .join(docfreq, "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(totals))
        .groupBy("query_id", id_col)
        .agg(
            # Exact-decimal sum of the 9-dp contributions: a plain double
            # sum is association-order-sensitive and its ROUND can land on
            # a half-ulp boundary where Spark and DuckDB disagree (the
            # ivfsq_trained_recall escape class).
            F.round(
                F.sum(contrib.cast(f"decimal(25,{round_digits + 3})")),
                round_digits,
            )
            .cast("double")
            .alias("score")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "score")
    )
