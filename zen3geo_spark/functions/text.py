"""Text analysis for web-scale training-data pipelines.

Language-ID (stopword n-gram heuristic), quality scoring, token counting,
and document fingerprinting — each defined as engine-parameterized SQL
templates so the DuckDB oracle runs the exact same logic, and as Spark
Column helpers that stay inside whole-stage codegen (no Python).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_STR = {"spark": "string", "duckdb": "varchar"}

# tiny deterministic stopword lists per language (public knowledge)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "ja": ["no", "wa", "ga", "desu", "to"],
    "ms": ["yang", "dan", "di", "itu", "ini"],
    "id": ["yang", "dan", "di", "dari", "ini"],
}

# A BPE-ish token approximation: word pieces = runs of letters/digits or
# single punctuation marks.
TOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

# GPT-2-style pre-tokenizer approximation (contraction suffixes split
# off, letter runs, digit runs, single punctuation) — written to the
# Java-regex ∩ RE2 common subset; both engines use leftmost-first
# alternation, so the token streams are identical.
SUBWORD_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def token_count_sql(col: str, engine: str) -> str:
    """Same whitespace token count as SQL (shared logic: trim → count
    separator runs + 1)."""
    t = f"trim({col})"
    if engine == "spark":
        return f"case when length({t}) = 0 then 0 else size(split({t}, '\\\\s+')) end"
    return (
        f"case when length({t}) = 0 then 0 else "
        f"len(regexp_split_to_array({t}, '\\s+')) end"
    )


def subword_count(text: Column) -> Column:
    """BPE-ish subword token count (``SUBWORD_PATTERN`` matches): the
    cheap LLM-token estimator pipelines use for per-doc token budgeting
    when the real tokenizer is too expensive to run corpus-wide. Pure
    JVM ``regexp_extract_all`` — no Python."""
    return F.size(F.regexp_extract_all(text, F.lit(SUBWORD_PATTERN), 0))


def subword_count_sql_duckdb(col: str) -> str:
    """DuckDB twin (RE2 runs the same pattern; inner quotes doubled for
    the SQL literal)."""
    pat = SUBWORD_PATTERN.replace("'", "''")
    return f"len(regexp_extract_all({col}, '{pat}'))"


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1]: mean of
    (1) length band score, (2) alpha ratio, (3) mean-word-length band.
    Pure JVM expressions."""
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z ]", "")).cast("double")
    words = token_count(text).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    mean_word = F.when(words > 0, n / words).otherwise(F.lit(0.0))
    word_score = F.when((mean_word >= 3) & (mean_word <= 10), F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_score + alpha_ratio + word_score) / F.lit(3.0)


def quality_score_sql(col: str, engine: str) -> str:
    n = f"cast(length({col}) as double)"
    alpha = f"cast(length(regexp_replace({col}, '[^A-Za-z ]', '', 'g')) as double)" \
        if engine == "duckdb" else f"cast(length(regexp_replace({col}, '[^A-Za-z ]', '')) as double)"
    words = token_count_sql(col, engine)
    mean_word = f"(case when ({words}) > 0 then {n} / ({words}) else 0.0 end)"
    return (
        f"(least({n} / 500.0, 1.0) "
        f"+ (case when {n} > 0 then {alpha} / {n} else 0.0 end) "
        f"+ (case when {mean_word} >= 3 and {mean_word} <= 10 then 1.0 else 0.0 end)"
        f") / 3.0"
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID: the language whose stopword hit-count (as
    whole words) is highest; ties broken by language code order; 'und'
    when nothing hits."""
    best_n = F.lit(0)
    best_lang = F.lit("und")
    # scan languages in sorted order; strict > keeps the FIRST max (ties
    # break toward the earlier language code) — deterministic
    for lang, words in sorted(STOPWORDS.items()):
        pat = r"(?i)\b(" + "|".join(words) + r")\b"
        cnt = F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        is_better = cnt > best_n
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_n = F.when(is_better, cnt).otherwise(best_n)
    return best_lang


def _stopword_count_sql(col: str, lang: str, engine: str) -> str:
    pat = r"(?i)\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    if engine == "duckdb":
        return f"len(regexp_extract_all({col}, '{pat}'))"
    pat_sql = pat.replace("\\", "\\\\")
    return f"size(regexp_extract_all({col}, '{pat_sql}', 0))"


def lang_id_sql(col: str, engine: str) -> str:
    """Engine template mirroring ``lang_id``: per-language whole-word
    stopword hit counts; winner = first language (sorted code order) whose
    count equals the max; 'und' when no stopword hits at all. The Column
    fold in ``lang_id`` (strict >, sorted scan) picks the same leftmost
    maximum — integer counts, so equivalence is exact."""
    langs = sorted(STOPWORDS)
    counts = {lang: _stopword_count_sql(col, lang, engine) for lang in langs}
    m = "greatest(" + ", ".join(counts.values()) + ")"
    whens = " ".join(f"when ({counts[lang]}) = {m} then '{lang}'" for lang in langs)
    return f"(case when {m} = 0 then 'und' {whens} else 'und' end)"


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (md5 is identical across Spark and DuckDB → oracle-checkable.)"""
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(norm)


def fingerprint_sql(col: str, engine: str) -> str:
    if engine == "spark":
        return f"md5(lower(regexp_replace(trim({col}), '\\\\s+', ' ')))"
    return f"md5(lower(regexp_replace(trim({col}), '\\s+', ' ', 'g')))"


def unigram_logppl(docs):
    """Unigram-LM log-perplexity quality score (the CCNet-style
    perplexity filter shape, self-trained): token probabilities come from
    the corpus itself (count / total tokens, whitespace tokens WITH
    repeats), per-doc score = mean −ln p(token) over the doc's tokens.
    High score = improbable token mix (gibberish / boilerplate outliers).

    Plan: one explode + token-frequency aggregate, the scalar total
    attached by constant-key broadcast, one equi-join back on token
    (broadcast when the vocabulary is small; shuffle equi-join otherwise
    — Catalyst decides from stats), one per-doc aggregate. Everything
    JVM-side.
    """
    from pyspark.sql import functions as F

    from zen3geo_spark.operators._util import pair_all

    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    tf = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").alias("total"))
    tfp = pair_all(tf, total)
    scored = toks.join(tfp, "tok")
    return scored.groupBy("doc").agg(
        F.avg(-F.log(F.col("cnt") / F.col("total"))).alias("logppl"))


def unigram_logppl_sql_duckdb(rel: str) -> str:
    """DuckDB twin of :func:`unigram_logppl`."""
    toks = (f"select doc_id as doc, unnest(regexp_split_to_array("
            f"lower(trim(text)), '\\s+')) as tok from {rel}")
    return f"""
    with toks as ({toks}),
    tf as (select tok, count(*) as cnt from toks group by tok),
    total as (select count(*) as total from toks)
    select doc, avg(-ln(cast(cnt as double) / total)) as logppl
    from toks join tf using (tok), total
    group by doc
    """


# Gopher keep thresholds: top 2-gram share and repeated 3-gram share.
GOPHER_TOP_BIGRAM_MAX = 0.20
GOPHER_DUP_TRIGRAM_MAX = 0.30


def ngram_repetition_stats(docs):
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, adapted
    to single-line corpora): per doc, the fraction of 2-gram occurrences
    taken by the SINGLE most frequent 2-gram (``top_bigram_frac``) and
    the fraction of 3-gram occurrences that are repeats of an earlier
    3-gram (``dup_trigram_frac``); ``keep`` flags docs under both
    thresholds.

    Scale shape: one explode per n, grams counted per (doc, gram) then
    folded per doc — two map-side-combinable aggregations keyed by the
    doc id, no self-joins, no windows; everything JVM (the words array
    splits once per doc, each gram string builds once per row).
    """
    def stats(n: int, top_out: str, dup_out: str):
        # index-explode, gram built once per row AFTER the Generate: the
        # words array materializes once per doc (same rationale as
        # curation.exploded_word_ngrams)
        words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        e = (docs.select(F.col("doc_id").alias("doc"), words.alias("_w"))
             .select("doc", "_w",
                     F.explode(F.sequence(
                         F.lit(0),
                         F.greatest(F.size("_w") - n, F.lit(0))))
                     .alias("_i")))
        g = e.select("doc", F.array_join(
            F.slice(F.col("_w"), F.col("_i") + 1, n), " ").alias("g"))
        per_gram = g.groupBy("doc", "g").agg(F.count("*").alias("c"))
        return per_gram.groupBy("doc").agg(
            (F.max("c") / F.sum("c")).alias(top_out),
            ((F.sum("c") - F.count("*")) / F.sum("c")).alias(dup_out))

    bi = stats(2, "top_bigram_frac", "_dup2")
    tri = stats(3, "_top3", "dup_trigram_frac")
    out = bi.select("doc", "top_bigram_frac").join(
        tri.select("doc", "dup_trigram_frac"), "doc")
    return out.select(
        "doc",
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
        F.round("dup_trigram_frac", 6).alias("dup_trigram_frac"),
        ((F.col("top_bigram_frac") <= GOPHER_TOP_BIGRAM_MAX)
         & (F.col("dup_trigram_frac") <= GOPHER_DUP_TRIGRAM_MAX)).alias("keep"))


def ngram_repetition_sql_duckdb(rel: str) -> str:
    """DuckDB twin of :func:`ngram_repetition_stats` (same gram build as
    ``shingles_sql_duckdb`` but NON-distinct)."""
    def grams(n: int) -> str:
        words = "regexp_split_to_array(lower(trim(text)), '\\s+')"
        return (
            f"select doc_id as doc, unnest(list_transform("
            f"generate_series(1, greatest(len({words}) - {n}, 0) + 1), "
            f"i -> array_to_string(({words})[i:i+{n - 1}], ' '))) as g "
            f"from {rel}")

    def stats(n: int, top_out: str, dup_out: str) -> str:
        return (
            f"select doc, cast(max(c) as double) / sum(c) as {top_out}, "
            f"cast(sum(c) - count(*) as double) / sum(c) as {dup_out} "
            f"from (select doc, g, count(*) as c from ({grams(n)}) "
            f"group by doc, g) group by doc")

    return f"""
    with bi as ({stats(2, 'top_bigram_frac', '_d2')}),
    tri as ({stats(3, '_t3', 'dup_trigram_frac')})
    select doc, round(top_bigram_frac, 6) as top_bigram_frac,
           round(dup_trigram_frac, 6) as dup_trigram_frac,
           (top_bigram_frac <= {GOPHER_TOP_BIGRAM_MAX}
            and dup_trigram_frac <= {GOPHER_DUP_TRIGRAM_MAX}) as keep
    from bi join tri using (doc)
    """


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(docs, terms: list[str]):
    """Okapi BM25 of a fixed term set over the corpus — the retrieval
    scorer of a training-data search/filter stage.

    idf uses the Lucene form ``ln(1 + (N - df + 0.5) / (df + 0.5))``.
    Scale shape: term stats (df) and corpus stats (N, avgdl) are
    term-count- and 1-row-sized aggregates broadcast into the per-doc
    tf join — no shuffle touches the corpus twice; all JVM.
    """
    from zen3geo_spark.operators._util import pair_all

    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"))
    dl = toks.groupBy("doc").agg(F.count("*").alias("dl"))
    corpus = pair_all(
        docs.agg(F.count("*").alias("n_docs")),
        dl.agg(F.avg("dl").alias("avgdl")))
    hits = toks.filter(F.col("tok").isin(terms))
    tf = hits.groupBy("doc", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = pair_all(tf.join(F.broadcast(df), "tok").join(dl, "doc"),
                      corpus)
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    num = F.col("tf") * (F.lit(BM25_K1) + 1)
    den = (F.col("tf") + F.lit(BM25_K1)
           * (F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")))
    return (scored.withColumn("_s", idf * num / den)
            .groupBy("doc").agg(F.round(F.sum("_s"), 4).alias("bm25")))


def bm25_sql_duckdb(rel: str, terms: list[str]) -> str:
    """DuckDB twin of :func:`bm25_scores` (same arithmetic order:
    idf * (tf*(k1+1)) / (tf + k1*(1-b+b*dl/avgdl)), summed per doc)."""
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    return f"""
    with toks as (
      select doc_id as doc,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
      from {rel}
    ),
    dl as (select doc, count(*) as dl from toks group by doc),
    corpus as (
      select (select count(*) from {rel}) as n_docs,
             (select avg(dl) from dl) as avgdl
    ),
    tf as (select doc, tok, count(*) as tf from toks
           where tok in ({terms_sql}) group by doc, tok),
    df as (select tok, count(*) as df from tf group by tok)
    select tf.doc,
           round(sum(ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * (tf.tf * ({BM25_K1} + 1))
                     / (tf.tf + {BM25_K1}
                        * (1.0 - {BM25_B} + {BM25_B} * dl.dl / c.avgdl))),
                 4) as bm25
    from tf join df using (tok) join dl on tf.doc = dl.doc, corpus c
    group by tf.doc
    """


def hashed_tfidf(docs, dim: int = 64):
    """Hashing-trick TF-IDF vectorizer: token → portable 40-bit
    polynomial hash → bucket ``hash % dim``; weight = tf · (ln((N+1)/
    (df+1)) + 1) summed per (doc, bucket) — the feature extractor that
    bridges raw text into the embedding/ANN operators, in long form
    (doc, bucket, w) so downstream stays relational.

    Scale shape: tokens explode once; the Python hash kernel runs over
    the DISTINCT vocabulary only (vocab-sized, not corpus-sized), and
    df/N are aggregate-sized joins — the corpus-sized tables never pass
    through Python.
    """
    from zen3geo_spark.operators._util import pair_all

    @F.pandas_udf("long")
    def h40(tok: pd.Series) -> pd.Series:
        from zen3geo_spark.operators.dedup import _POWS1_NP, _poly_hash_batch

        return pd.Series(_poly_hash_batch(
            [t if isinstance(t, str) else "" for t in tok], _POWS1_NP))

    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"))
    tf = toks.groupBy("doc", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    vocab = df.select("tok", "df",
                      F.pmod(h40(F.col("tok")), F.lit(dim)).alias("bucket"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    w = pair_all(tf.join(vocab, "tok"), n_docs)
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    return (w.withColumn("_w", F.col("tf") * idf)
            .groupBy("doc", "bucket")
            .agg(F.round(F.sum("_w"), 6).alias("w")))


def hashed_tfidf_sql_duckdb(rel: str, dim: int = 64) -> str:
    """DuckDB twin of :func:`hashed_tfidf` (same polynomial hash via
    ``hash40_sql_duckdb``, same idf arithmetic order)."""
    from zen3geo_spark.operators.dedup import hash40_sql_duckdb

    return f"""
    with toks as (
      select doc_id as doc,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
      from {rel}
    ),
    tf as (select doc, tok, count(*) as tf from toks group by doc, tok),
    dfreq as (select tok, count(*) as df from tf group by tok),
    vocab as (select tok, df, ({hash40_sql_duckdb('tok', 1)}) % {dim} as bucket
              from dfreq),
    nd as (select count(*) as n_docs from {rel})
    select tf.doc, v.bucket,
           round(sum(tf.tf * (ln((nd.n_docs + 1.0) / (v.df + 1.0)) + 1.0)), 6) as w
    from tf join vocab v using (tok), nd
    group by tf.doc, v.bucket
    """


# ---------------------------------------------------------------------------
# hashing-trick linear classifier (fastText-style inference)
# ---------------------------------------------------------------------------

# Deterministic stand-in for a trained weight vector: bucket b carries
# integer weight ((b·1103515245 + 12345) mod 1001) − 500 ∈ [−500, 500].
# A real deployment broadcasts trained weights from a model file; the
# Spark-side plumbing (vocab-only hashing, weight lookup as a join,
# integer margin accumulation) is identical either way.
_CLS_A, _CLS_B, _CLS_MOD, _CLS_OFF = 1103515245, 12345, 1001, 500


def classifier_weight_sql(bucket: str) -> str:
    """Engine-neutral integer weight expression for a bucket column."""
    return f"(({bucket} * {_CLS_A} + {_CLS_B}) % {_CLS_MOD} - {_CLS_OFF})"


def linear_classifier_margin(docs, dim: int = 256):
    """fastText-style linear classifier inference over hashing-trick
    bag-of-words features: margin(doc) = Σ_tok tf(doc, tok) ·
    w[h(tok) mod dim], label = margin > 0 — the quality/spam gate
    pipelines run corpus-wide before training.

    Everything is INTEGER (tf counts × integer weights), so the margin
    is exact in both engines regardless of aggregation order. Scale
    shape mirrors ``hashed_tfidf``: tokens explode once in the JVM, the
    Python hash kernel touches only the DISTINCT vocabulary, and the
    weight "vector" needs no materialization at all — it is an
    arithmetic expression over the bucket id."""

    @F.pandas_udf("long")
    def h40(tok: pd.Series) -> pd.Series:
        from zen3geo_spark.operators.dedup import _POWS1_NP, _poly_hash_batch

        return pd.Series(_poly_hash_batch(
            [t if isinstance(t, str) else "" for t in tok], _POWS1_NP))

    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))),
                          r"\s+")).alias("tok"))
    tf = toks.groupBy("doc", "tok").agg(F.count("*").alias("tf"))
    vocab = (tf.select("tok").distinct()
             .select("tok", F.pmod(h40(F.col("tok")), F.lit(dim))
                     .alias("bucket")))
    return (tf.join(vocab, "tok")
            .select("doc", (F.col("tf")
                            * F.expr(classifier_weight_sql("bucket")))
                    .alias("_m"))
            .groupBy("doc").agg(F.sum("_m").alias("margin"))
            .select("doc", "margin",
                    (F.col("margin") > 0).alias("label")))


def linear_classifier_sql_duckdb(rel: str, dim: int = 256) -> str:
    """DuckDB twin of :func:`linear_classifier_margin` (same hash, same
    weight formula, same integer margin)."""
    from zen3geo_spark.operators.dedup import hash40_sql_duckdb

    return f"""
    with toks as (
      select doc_id as doc,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
      from {rel}
    ),
    tf as (select doc, tok, count(*) as tf from toks group by doc, tok),
    vocab as (select tok, ({hash40_sql_duckdb('tok', 1)}) % {dim} as bucket
              from (select distinct tok from tf)),
    m as (
      select tf.doc, sum(tf.tf * {classifier_weight_sql('v.bucket')}) as margin
      from tf join vocab v using (tok)
      group by tf.doc
    )
    select doc, margin, margin > 0 as label from m
    """


# ---------------------------------------------------------------------------
# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling")
# ---------------------------------------------------------------------------

DSIR_SMOOTHING = 0.5   # Laplace add-k on the target unigram LM


def dsir_importance(docs, target_pred):
    """Per-doc importance weight of the corpus against a target slice:
    log w(x) = mean over x's tokens of ln p_target(tok) − ln p_source(tok),
    with unigram LMs (whitespace tokens, repeats counted), the corpus
    itself as the source distribution, and Laplace ``DSIR_SMOOTHING`` on the
    target model (tokens the target never saw must not zero the weight).
    Resampling the corpus proportional to w concentrates it on the
    target's token mix — the DSIR selection step.

    ``target_pred`` is a boolean Column over ``docs`` marking the target
    slice. Returns (doc, n_toks, log_importance).

    Plan: ONE token explode feeds both LMs (conditional aggregates in a
    single groupBy), the three scalars (source total, target total,
    vocab size) ride constant-key broadcasts, and the per-token log
    ratio joins back on tok — broadcast or shuffle equi-join as stats
    dictate, then one map-side-combinable per-doc aggregate. All JVM.
    """
    from pyspark.sql import functions as F

    from zen3geo_spark.operators._util import pair_all

    toks = docs.select(
        F.col("doc_id").alias("doc"),
        target_pred.alias("_tgt"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    tf = toks.groupBy("tok").agg(
        F.count("*").alias("cnt_src"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("cnt_tgt"),
    )
    scalars = tf.agg(
        F.sum("cnt_src").alias("total_src"),
        F.sum("cnt_tgt").alias("total_tgt"),
        F.count("*").alias("vocab"),
    )
    ratio = pair_all(tf, scalars).select(
        "tok",
        (F.log((F.col("cnt_tgt") + F.lit(DSIR_SMOOTHING))
               / (F.col("total_tgt") + F.lit(DSIR_SMOOTHING) * F.col("vocab")))
         - F.log(F.col("cnt_src") / F.col("total_src"))).alias("log_ratio"),
    )
    return (toks.join(ratio, "tok")
            .groupBy("doc")
            .agg(F.count("*").alias("n_toks"),
                 F.avg("log_ratio").alias("log_importance")))


def dsir_sql_duckdb(rel: str, target_pred_sql: str) -> str:
    """DuckDB twin of :func:`dsir_importance` (same LMs, same smoothing)."""
    return f"""
    with toks as (
      select doc_id as doc, ({target_pred_sql}) as _tgt,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
      from {rel}
    ),
    tf as (select tok, count(*) as cnt_src,
                  sum(case when _tgt then 1 else 0 end) as cnt_tgt
           from toks group by tok),
    scalars as (select sum(cnt_src) as total_src, sum(cnt_tgt) as total_tgt,
                       count(*) as vocab
                from tf),
    ratio as (select tok,
                     ln((cnt_tgt + {DSIR_SMOOTHING}) /
                        (total_tgt + {DSIR_SMOOTHING} * vocab))
                     - ln(cast(cnt_src as double) / total_src) as log_ratio
              from tf, scalars)
    select doc, count(*) as n_toks, avg(log_ratio) as log_importance
    from toks join ratio using (tok)
    group by doc
    """


INVERTED_MIN_DF = 2


def inverted_index(docs, min_df: int = INVERTED_MIN_DF, max_df: int = 40):
    """Positional inverted-index build — the index-construction stage of
    a web-scale search pipeline, as pure DataFrame ops.

    (token, df, postings) where postings is the classic delta-encoded
    form ``gap:pos,pos|gap:pos,...``: doc ids ascending, each stored as
    the gap from the previous (first absolute), with the 0-based token
    positions within the doc. Scale shape: the posexplode is map-side;
    the (token, doc) groupBy partial-aggregates; the doc-frequency band
    filter [min_df, max_df] prunes stopword-class tokens BEFORE any
    per-token list materializes (at 10^12 docs the hot tokens would
    otherwise concentrate on single reducers — production systems
    impact-sort/block those lists; here they are out of band), so both
    the lag window and the final per-token groupBy see lists bounded by
    max_df. Positions are 0-based indices into the \\s+ split (runs of
    whitespace collapse to one delimiter on both engines), matching the
    DuckDB twin's generate_subscripts exactly.
    """
    toks = (docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("pos", "tok"))
        .filter(F.col("tok") != ""))
    perdoc = (toks.groupBy("tok", "doc")
              .agg(F.expr("array_join(transform(sort_array(collect_list("
                          "pos)), x -> cast(x as string)), ',')")
                   .alias("positions_csv")))
    dfc = perdoc.groupBy("tok").agg(F.count("*").alias("df"))
    band = (perdoc.join(dfc, "tok")
            .filter(F.col("df").between(min_df, max_df)))
    from pyspark.sql.window import Window
    w = Window.partitionBy("tok").orderBy("doc")
    gapped = band.withColumn(
        "gap", F.col("doc") - F.coalesce(F.lag("doc").over(w), F.lit(0)))
    entry = F.concat_ws(":", F.col("gap").cast("string"),
                        F.col("positions_csv"))
    return (gapped.select("tok", "df",
                          F.struct("doc", entry.alias("e")).alias("de"))
            .groupBy("tok", "df")
            .agg(F.expr("array_join(transform(sort_array(collect_list(de)),"
                        " x -> x.e), '|')").alias("postings"))
            .select(F.col("tok").alias("token"), "df", "postings"))


def inverted_index_sql_duckdb(rel: str, max_df: int = 40) -> str:
    """DuckDB twin of :func:`inverted_index` (same tokenization, same
    0-based raw-split positions, same delta encoding)."""
    arr = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    return f"""
    with toks as (
      select doc, tok, pos from (
        select doc_id as doc, unnest({arr}) as tok,
               generate_subscripts({arr}, 1) - 1 as pos
        from {rel}
      ) where tok <> ''
    ),
    perdoc as (
      select tok, doc, string_agg(pos::varchar, ',' order by pos)
                         as positions_csv
      from toks group by tok, doc
    ),
    dfc as (select tok, count(*) as df from perdoc group by tok),
    band as (select * from perdoc join dfc using (tok)
             where df between {INVERTED_MIN_DF} and {max_df}),
    gapped as (
      select tok, df, doc,
             doc - coalesce(lag(doc) over (partition by tok order by doc),
                            0) as gap,
             positions_csv
      from band
    )
    select tok as token, df,
           string_agg(gap::varchar || ':' || positions_csv, '|'
                      order by doc) as postings
    from gapped group by tok, df
    """


TF_COSINE_MIN_DF = 2   # a token in one doc joins no pair


def tf_cosine_pairs(docs, threshold: float = 0.8, max_df: int | None = None):
    """Document near-dup pairs by TF-cosine via a posting-list self-join
    — the sparse-vector analogue of the embedding near-dup path, built
    on the same tokenization as :func:`inverted_index`.

    Cross-engine exactness by construction: the dot product is
    sum(tf_a*tf_b) over shared tokens and the norms are sum(tf²) — all
    int64 — so the ONLY float ops are one sqrt and one divide per pair
    (both correctly-rounded IEEE), making the cosine BIT-IDENTICAL in
    Spark and the DuckDB twin with no sum-order or threshold fragility.

    Scale shape: the self-join is an equi-join on token; pair volume is
    Σ df(token)², so ``max_df`` (drop stopword-class tokens from the
    DOT, norms stay full-vector) is the cost knob — the same
    df-blocking recall trade as word_jaccard, exact when max_df is
    None. The ``TF_COSINE_MIN_DF`` floor of 2 is free.
    """
    toks = (docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("tok"))
        .filter(F.col("tok") != ""))
    tf = toks.groupBy("doc", "tok").agg(F.count("*").alias("tf"))
    n2 = tf.groupBy("doc").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    dfc = tf.groupBy("tok").agg(F.count("*").alias("df"))
    band = tf.join(dfc, "tok").filter(F.col("df") >= TF_COSINE_MIN_DF)
    if max_df is not None:
        band = band.filter(F.col("df") <= max_df)
    a = band.select(F.col("doc").alias("a_id"), "tok",
                    F.col("tf").alias("tfa"))
    b = band.select(F.col("doc").alias("b_id"), "tok",
                    F.col("tf").alias("tfb"))
    dots = (a.join(b, "tok")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("dot")))
    na = n2.select(F.col("doc").alias("a_id"), F.col("n2").alias("n2a"))
    nb = n2.select(F.col("doc").alias("b_id"), F.col("n2").alias("n2b"))
    return (dots.join(na, "a_id").join(nb, "b_id")
            .withColumn("cos", F.col("dot")
                        / F.sqrt((F.col("n2a") * F.col("n2b"))
                                 .cast("double")))
            .filter(F.col("cos") >= threshold)
            .select("a_id", "b_id", "dot", F.round("cos", 6).alias("cos")))


def tf_cosine_pairs_sql_duckdb(rel: str, threshold: float = 0.8) -> str:
    """DuckDB twin of :func:`tf_cosine_pairs` at its default (no
    ``max_df`` cut): same tokenization, same integer dot/norms, same
    single-sqrt cosine."""
    return f"""
    with toks as (
      select doc, tok from (
        select doc_id as doc,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
        from {rel}
      ) where tok <> ''
    ),
    tf as (select doc, tok, count(*) as tf from toks group by doc, tok),
    n2 as (select doc, sum(tf*tf) as n2 from tf group by doc),
    dfc as (select tok, count(*) as df from tf group by tok),
    band as (select tf.* from tf join dfc using (tok)
             where df >= {TF_COSINE_MIN_DF}),
    dots as (
      select a.doc as a_id, b.doc as b_id, sum(a.tf*b.tf) as dot
      from band a join band b on a.tok = b.tok and a.doc < b.doc
      group by a.doc, b.doc
    ),
    cs as (
      select a_id, b_id, dot,
             dot / sqrt(cast(na.n2 * nb.n2 as double)) as cos
      from dots join n2 na on na.doc = a_id join n2 nb on nb.doc = b_id
    )
    select a_id, b_id, dot, round(cos, 6) as cos
    from cs where cos >= {threshold}
    """


def pmi_pairs(docs, min_df: int = 3, max_df: int = 60, min_pair: int = 3,
              max_doc_toks: int = 80):
    """Document-level token co-occurrence with exact PMI sufficient
    statistics → (tok_a, tok_b, n_ab, n_a, n_b, n_docs). The
    collocation-mining stage of corpus analysis: PMI =
    ln(n_ab·N / (n_a·n_b)) — the four integers ARE the statistic
    (emitting the log would be FP and break the cross-engine hash for
    nothing; rank or threshold downstream by cross-multiplication).

    Scale shape — two hot-key guards, both BEFORE the quadratic step:
    the df band [min_df, max_df] drops stopword-class tokens (a token
    in 10^11 docs would join 10^22 pairs), and docs with more than
    ``max_doc_toks`` distinct banded tokens are excluded entirely
    (the per-doc pair fan-out is otherwise unbounded — same guard as
    ``cocitation_pairs``'s max_out_deg). After the guards the pair
    join is an equi-join on doc with fan-out ≤ max_doc_toks² and the
    counts are map-side combinable. n_a/n_b/n_docs are recomputed
    over the KEPT docs so the statistics are coherent with the pair
    universe. All integer ⇒ bit-exact.

    ``kept`` feeds four branches (both pair sides, n_a, n_docs):
    ``localCheckpoint`` on it and on ``dfc`` computes each once and cuts
    the plan tree there, so no branch re-runs the explode and the guards
    (the lineage caveat of ``operators/dedup.py`` applies)."""
    from zen3geo_spark.operators._util import pair_all

    dtok = (docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("tok"))
        .filter(F.col("tok") != "")
        .distinct())
    dfc = (dtok.groupBy("tok").agg(F.count("*").alias("df"))
           .localCheckpoint(eager=False))
    band = (dtok.join(dfc.filter(F.col("df").between(min_df, max_df))
                      .select("tok"), "tok"))
    docsz = band.groupBy("doc").agg(F.count("*").alias("ntok"))
    kept = (band.join(docsz.filter(F.col("ntok") <= max_doc_toks)
                      .select("doc"), "doc")
            .localCheckpoint(eager=False))
    na = kept.groupBy("tok").agg(F.count("*").alias("n"))
    ndocs = kept.select("doc").distinct().agg(
        F.count("*").alias("n_docs"))
    a = kept.select("doc", F.col("tok").alias("tok_a"))
    b = kept.select("doc", F.col("tok").alias("tok_b"))
    pairs = (a.join(b, "doc")
             .filter(F.col("tok_a") < F.col("tok_b"))
             .groupBy("tok_a", "tok_b")
             .agg(F.count("*").alias("n_ab"))
             .filter(F.col("n_ab") >= min_pair))
    return pair_all(
        (pairs
         .join(na.select(F.col("tok").alias("tok_a"),
                         F.col("n").alias("n_a")), "tok_a")
         .join(na.select(F.col("tok").alias("tok_b"),
                         F.col("n").alias("n_b")), "tok_b")),
        ndocs).select("tok_a", "tok_b", "n_ab", "n_a", "n_b", "n_docs")


def pmi_pairs_sql_duckdb(rel: str, min_df: int = 3,
                         max_df: int = 60, min_pair: int = 3,
                         max_doc_toks: int = 80) -> str:
    """DuckDB twin of :func:`pmi_pairs` (same guards, same universe)."""
    return f"""
    with dtok as (
      select distinct doc_id as doc, tok from (
        select doc_id,
               unnest(regexp_split_to_array(lower(trim(text)),
                                            '\\s+')) as tok
        from {rel}
      ) where tok <> ''
    ),
    dfc as (select tok, count(*) as df from dtok group by tok),
    band as (select d.doc, d.tok from dtok d join dfc using (tok)
             where df between {min_df} and {max_df}),
    docsz as (select doc, count(*) as ntok from band group by doc),
    kept as (select b.doc, b.tok from band b join docsz using (doc)
             where ntok <= {max_doc_toks}),
    na as (select tok, count(*) as n from kept group by tok),
    nd as (select count(distinct doc) as n_docs from kept),
    pairs as (
      select a.tok as tok_a, b.tok as tok_b, count(*) as n_ab
      from kept a join kept b on a.doc = b.doc and a.tok < b.tok
      group by 1, 2 having count(*) >= {min_pair})
    select p.tok_a, p.tok_b, p.n_ab, x.n as n_a, y.n as n_b, nd.n_docs
    from pairs p join na x on x.tok = p.tok_a
                 join na y on y.tok = p.tok_b
                 cross join nd
    """


def textrank_keywords(docs, min_df: int = 3, max_df: int = 60,
                      iters: int = 4):
    """TextRank keyword scores (Mihalcea & Tarau 2004): integer
    fixed-point PageRank over the word ADJACENCY graph (consecutive
    banded tokens within a doc, undirected, distinct) →
    (token, rank_fp). The corpus-level keyword extractor; composing
    the link-graph PageRank kernel onto text is the point — one
    superstep engine serves host authority and keyword salience alike.

    Determinism: the same 10^9-mass floor-division recurrence as
    ``linkgraph.pagerank_fixed_point`` — here the node universe is the
    banded VOCAB (distinct tokens), so the init/base masses
    ``MASS div n`` come from a one-row vocab-count broadcast joined
    in-plan (no driver-side count). Isolated tokens (no surviving
    neighbor) hold exactly the base mass. int64 sums associative ⇒
    bit-exact vs the unrolled DuckDB twin.

    Scale shape: the adjacency build is a per-doc lead window (one
    shuffle on doc); each superstep is one edge⋈rank equi-join + a
    map-side-combinable sum, O(|E|) — and |E| is bounded by the df
    band: no stopword hub, no quadratic co-occurrence window.
    Per-round ``localCheckpoint(eager=False)`` keeps the plan O(1)."""
    from pyspark.sql.window import Window

    from zen3geo_spark.operators._util import pair_all

    mass, damp_num, damp_den = 1_000_000_000, 85, 100
    toks = (docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("pos", "tok"))
        .filter(F.col("tok") != ""))
    dfc = (toks.select("doc", "tok").distinct()
           .groupBy("tok").agg(F.count("*").alias("df")))
    band = (toks.join(dfc.filter(F.col("df").between(min_df, max_df))
                      .select("tok"), "tok"))
    w = Window.partitionBy("doc").orderBy("pos")
    seq = band.withColumn("nxt", F.lead("tok").over(w))
    und = (seq.filter(F.col("nxt").isNotNull()
                      & (F.col("nxt") != F.col("tok")))
           .select(F.least("tok", "nxt").alias("a"),
                   F.greatest("tok", "nxt").alias("b"))
           .distinct())
    sym = (und.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .unionAll(und.select(F.col("b").alias("u"),
                                F.col("a").alias("v")))
           .localCheckpoint(eager=False))
    nodes = band.select(F.col("tok").alias("node")).distinct()
    nvocab = nodes.agg(F.count("*").alias("n_vocab"))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    ed = sym.join(deg, "u").localCheckpoint(eager=False)
    ranks = pair_all(nodes, nvocab).select(
        "node", F.expr(f"{mass} div n_vocab").alias("rank_fp"), "n_vocab")
    for _ in range(iters):
        contrib = (ed.join(ranks.select(F.col("node").alias("u"),
                                        "rank_fp"), "u")
                   .select(F.col("v").alias("node"),
                           F.expr("rank_fp div deg").alias("c"))
                   .groupBy("node").agg(F.sum("c").alias("in_mass")))
        base_mass = mass - damp_num * mass // damp_den  # int64-safe const
        ranks = (pair_all(nodes, nvocab)
                 .join(contrib, "node", "left")
                 .select("node",
                         F.expr(f"cast({base_mass} as bigint) div n_vocab"
                                f" + ({damp_num} * coalesce(in_mass, 0))"
                                f" div {damp_den}").alias("rank_fp"),
                         "n_vocab")
                 .localCheckpoint(eager=False))
    return ranks.select(F.col("node").alias("token"), "rank_fp")


def textrank_sql_duckdb(rel: str, min_df: int = 3,
                        max_df: int = 60, iters: int = 4) -> str:
    """DuckDB twin of :func:`textrank_keywords` (unrolled supersteps,
    vocab count via scalar subquery — same floor-division masses)."""
    mass, dn, dd = 1_000_000_000, 85, 100
    arr = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    parts = [
        f"""toks as (
      select doc, tok, pos from (
        select doc_id as doc, unnest({arr}) as tok,
               generate_subscripts({arr}, 1) - 1 as pos
        from {rel}
      ) where tok <> '')""",
        "dfc as (select tok, count(distinct doc) as df from toks "
        "group by tok)",
        f"band as (select t.doc, t.tok, t.pos from toks t join dfc "
        f"using (tok) where df between {min_df} and {max_df})",
        "seq as (select doc, tok, lead(tok) over "
        "(partition by doc order by pos) as nxt from band)",
        "und as (select distinct least(tok, nxt) as a, "
        "greatest(tok, nxt) as b from seq "
        "where nxt is not null and nxt <> tok)",
        "sym as (select a as u, b as v from und "
        "union all select b as u, a as v from und)",
        "nodes as (select distinct tok as node from band)",
        "nv as (select count(*) as n from nodes)",
        "deg as (select u, count(*) as deg from sym group by u)",
        "ed as (select s.u, s.v, d.deg from sym s join deg d using (u))",
        f"r0 as (select node, {mass} // (select n from nv) as rank_fp "
        f"from nodes)",
    ]
    base_mass = mass - dn * mass // dd
    base = f"cast({base_mass} as bigint) // (select n from nv)"
    for t in range(iters):
        parts.append(
            f"c{t} as (select ed.v as node, "
            f"sum(r.rank_fp // ed.deg) as in_mass "
            f"from ed join r{t} r on ed.u = r.node group by ed.v)")
        parts.append(
            f"r{t + 1} as (select n.node, cast({base} + "
            f"({dn} * coalesce(c.in_mass, 0)) // {dd} as bigint) as rank_fp "
            f"from nodes n left join c{t} c on n.node = c.node)")
    return ("with " + ",\n".join(parts)
            + f"\nselect node as token, rank_fp from r{iters}")


def readability_sql(col: str, engine: str) -> dict[str, str]:
    """Engine-parameterized readability sufficient statistics + an
    integer Flesch–Kincaid-style grade — the readability band filter of
    a curation pipeline (alongside the Gopher/quality heuristics), kept
    hash-exact by leaving every ratio in scaled integer arithmetic:

    * ``n_words`` — whitespace tokens (``token_count_sql``),
    * ``n_syll`` — vowel-group runs ``[aeiouy]+`` over the lowercased
      text (the classic cheap syllable estimator; Java regex and RE2
      agree on this pattern),
    * ``n_sents`` — terminal-punctuation runs ``[.!?]+``, floored at 1
      so headline-only docs count as one sentence,
    * ``grade_milli`` — ``390*words div sents + 11800*syll div words
      − 15590`` (FK grade × 1000 with each ratio floor-divided; all
      operands non-negative so Spark ``div`` ≡ DuckDB ``//``), NULL for
      word-less docs.

    Everything is whole-stage-codegen string/regex arithmetic — no
    Python, no shuffle beyond whatever rollup the caller adds."""
    low = f"lower({col})"
    if engine == "spark":
        syll = f"size(regexp_extract_all({low}, '[aeiouy]+', 0))"
        sents = f"greatest(size(regexp_extract_all({col}, '[.!?]+', 0)), 1)"
        div = " div "
    else:
        syll = f"len(regexp_extract_all({low}, '[aeiouy]+'))"
        sents = f"greatest(len(regexp_extract_all({col}, '[.!?]+')), 1)"
        div = " // "
    words = token_count_sql(col, engine)
    grade = (
        f"case when ({words}) = 0 then null else "
        f"cast((390 * ({words})){div}({sents}) "
        f"+ (11800 * ({syll})){div}({words}) - 15590 as bigint) end"
    )
    return {
        "n_words": f"cast({words} as bigint)",
        "n_syll": f"cast({syll} as bigint)",
        "n_sents": f"cast({sents} as bigint)",
        "grade_milli": grade,
    }


def bigram_logppl(docs):
    """Bigram-LM log-perplexity (the CCNet perplexity filter upgraded
    one order): per-doc mean −ln p(w_i | w_{i−1}) with add-one (Laplace)
    smoothing over the observed vocabulary,
    ``p(b|a) = (c(a,b) + 1) / (c(a) + V)`` — self-trained on the corpus
    like :func:`unigram_logppl`, so no external LM ships with the job.

    Plan shape: one posexplode, one per-doc lead window (the only
    doc-keyed shuffle) to form bigram occurrences, two count aggregates
    (bigram and unigram tables — map-side combinable), the scalar V by
    constant-key broadcast, then equi-joins back and a per-doc mean.
    Every join key is a token or token pair — the same cardinality
    class as the corpus vocabulary, no all-pairs anywhere."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from zen3geo_spark.operators._util import pair_all

    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("pos", "tok"))
    w = Window.partitionBy("doc").orderBy("pos")
    big = (toks.withColumn("nxt", F.lead("tok").over(w))
           .filter(F.col("nxt").isNotNull()))
    cab = big.groupBy("tok", "nxt").agg(F.count("*").alias("cnt_ab"))
    ca = toks.groupBy("tok").agg(F.count("*").alias("cnt_a"))
    vocab = toks.select("tok").distinct().agg(F.count("*").alias("vocab"))
    scored = (pair_all(big.join(cab, ["tok", "nxt"]).join(ca, "tok"), vocab))
    return scored.groupBy("doc").agg(
        F.avg(-F.log((F.col("cnt_ab") + 1)
                     / (F.col("cnt_a") + F.col("vocab"))))
        .alias("logppl"))


def bigram_logppl_sql_duckdb(rel: str) -> str:
    """DuckDB twin of :func:`bigram_logppl` (same window, same
    smoothing)."""
    arr = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    return f"""
    with toks as (
      select doc_id as doc, unnest({arr}) as tok,
             generate_subscripts({arr}, 1) as pos from {rel}
    ),
    big as (
      select doc, tok, lead(tok) over (partition by doc order by pos) as nxt
      from toks
    ),
    bign as (select * from big where nxt is not null),
    cab as (select tok, nxt, count(*) as cnt_ab from bign group by 1, 2),
    ca as (select tok, count(*) as cnt_a from toks group by 1),
    vocab as (select count(distinct tok) as vocab from toks)
    select doc,
           avg(-ln((cnt_ab + 1) / cast(cnt_a + vocab as double))) as logppl
    from bign join cab using (tok, nxt) join ca using (tok), vocab
    group by doc
    """
