"""Corpus-curation operators for web-scale training-data pipelines.

Three ops a 100 TB text pipeline runs before training, none of which the
reference repo covers (zen3geo stops at the geospatial loader layer —
these extend the engine's LLM-pipeline surface alongside
``operators/dedup.py`` and ``functions/text.py``):

- **Test-set contamination check** (``contamination_check``): per
  document, how many of its word n-gram positions also occur in a
  designated benchmark split — the standard decontamination pass (the
  GPT-3 appendix-C / "Documenting large webtext corpora" 13-gram idea,
  here parameterized on ``n``).
- **Duplicate-span inventory** (``duplicate_span_inventory``): the
  most-repeated word n-grams across the corpus with document- and
  source-spread — the cheap map-reduce approximation of the
  suffix-array duplicate-substring report ("Deduplicating Training Data
  Makes Language Models Better"): a group-by over n-gram spans instead
  of a suffix array, which Spark aggregates map-side at any scale.
- **Deterministic stratified downsampling** (``stratified_sample``):
  keep-rate per stratum (e.g. language), decided by an arithmetic hash
  of the document id, so the sample is reproducible row-for-row across
  engines, retries, and cluster sizes — no ``rand()``.

Everything stays in whole-stage codegen: the n-gram expansion explodes
a start-index ``sequence`` over one ``split`` array, the benchmark
vocabulary is a broadcast semi-join (benchmark sets are small by
construction), the sample hash is integer arithmetic. No Python, no UDF,
no shuffle bigger than the final per-key aggregate. Each op ships a
DuckDB SQL twin (same arithmetic, same tokenization) for the value-hash
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Multiplicative sampling hash (Knuth): h = (id * A + B) mod 100.
# Identical int64 arithmetic in Spark and DuckDB. Domain bound: the
# product must stay inside int64, i.e. id < 2^63 / A ~= 3.5e9 — fine for
# any per-shard id; for a 10^12-row corpus hash a stable 64-bit doc key
# with a splitmix-style mixer instead (DuckDB twin would then need the
# same mixer spelled out, as hash40_sql_duckdb does for text grams).
_HASH_A = 2654435761
_HASH_B = 12345


def exploded_word_ngrams(docs: DataFrame, n: int,
                         carry_cols: tuple[str, ...]) -> DataFrame:
    """(carry..., n_grams, gram): one row per positional word ``n``-gram
    of the lowercased text split on single spaces, grams space-joined;
    documents with fewer than ``n`` words yield no rows.
    ``_ngrams_cte_duckdb`` is its DuckDB twin.

    Exploding the START INDEX and building each gram AFTER the Generate
    materializes the words array once per doc and each gram string once
    per row. Building a gram array with ``transform(sequence(...))`` and
    exploding it is an order of magnitude slower: filter pushdown copies
    the interpreted HOF into the pre-Generate Filter and Project, so it
    runs 3-4 times per doc.
    """
    words = F.split(F.lower(F.col("text")), " ")
    base = (docs.select(*carry_cols, words.alias("_w"))
            .filter(F.size("_w") >= n)
            .select(*carry_cols, "_w",
                    (F.size("_w") - (n - 1)).alias("n_grams")))
    e = base.select(*carry_cols, "n_grams", "_w",
                    F.explode(F.sequence(F.lit(1), F.col("n_grams")))
                    .alias("_i"))
    return e.select(
        *carry_cols, "n_grams",
        F.concat_ws(" ", F.slice(F.col("_w"), F.col("_i"), n))
        .alias("gram"))


def _ngrams_cte_duckdb(rel: str, n: int, extra_cols: str = "") -> str:
    """DuckDB CTE body producing (doc_id, [extra_cols,] n_grams, gram) rows
    identical to ``exploded_word_ngrams``: 1-based inclusive list slicing,
    generate_series empty when the doc is shorter than ``n`` words."""
    return (
        f"w as (select doc_id, {extra_cols + ', ' if extra_cols else ''}"
        f"string_split(lower(text), ' ') as w from {rel}),\n"
        f"g as (select doc_id, {extra_cols + ', ' if extra_cols else ''}"
        f"len(w) - {n - 1} as n_grams,\n"
        f"       array_to_string(w[i:i+{n - 1}], ' ') as gram\n"
        f"     from w, unnest(generate_series(1, len(w) - {n - 1})) as t(i))"
    )


# ---------------------------------------------------------------------------
# 1. test-set contamination
# ---------------------------------------------------------------------------

def contamination_check(docs: DataFrame, n: int = 5, bench_mod: int = 97) -> DataFrame:
    """Per corpus document: total word-``n``-gram positions and how many
    of them occur anywhere in the benchmark split (documents whose id is
    divisible by ``bench_mod`` — a deterministic holdout stand-in; a real
    pipeline passes the actual benchmark table).

    Returns (id, n_grams, n_contaminated) for every corpus (non-benchmark)
    document with at least ``n`` words.

    Scale shape: the benchmark n-gram vocabulary is benchmark-sized
    (KBs-MBs even for real eval suites) → ``broadcast``; the corpus side
    is one scan → array expand → broadcast left join → map-side-combinable
    count aggregate keyed by doc id. Nothing shuffles at corpus width
    except the final per-doc agg, and the scan prunes to (id, text).
    """
    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0
    bench_vocab = (exploded_word_ngrams(docs.filter(is_bench), n,
                                        ("doc_id",))
                   .select("gram").distinct()
                   .withColumn("_hit", F.lit(1)))
    exploded = exploded_word_ngrams(docs.filter(~is_bench), n,
                                    ("doc_id",))
    return (exploded.join(F.broadcast(bench_vocab), "gram", "left")
            .groupBy("doc_id")
            .agg(F.max("n_grams").alias("n_grams"),
                 F.count("_hit").alias("n_contaminated")))


def contamination_sql_duckdb(rel: str, n: int = 5, bench_mod: int = 97) -> str:
    """DuckDB twin of :func:`contamination_check`."""
    return f"""
with {_ngrams_cte_duckdb(rel, n)},
bench as (select distinct gram from g where doc_id % {bench_mod} = 0),
corpus as (select * from g where doc_id % {bench_mod} <> 0)
select doc_id,
       max(n_grams) as n_grams,
       count(*) filter (where gram in (select gram from bench))
           as n_contaminated
from corpus
group by doc_id
"""


# ---------------------------------------------------------------------------
# 2. duplicate-span inventory
# ---------------------------------------------------------------------------

def duplicate_span_inventory(docs: DataFrame, n: int = 8, top_k: int = 20) -> DataFrame:
    """Top-``top_k`` most-repeated word ``n``-gram spans with their
    occurrence count, distinct-document spread, and distinct-source
    spread — ordered (count desc, gram asc), a total order, so the cut is
    deterministic.

    Scale shape: one scan → expand → group-by gram (map-side partial
    aggregation absorbs the heavy repeats — the very spans we're looking
    for — before the shuffle) → TakeOrdered top-k (per-partition heaps +
    a top_k-sized driver merge, never a global sort materialization).
    """
    ex = exploded_word_ngrams(docs, n, ("doc_id", "source"))
    return (ex.groupBy("gram")
            .agg(F.count("*").alias("n_occurrences"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.countDistinct("source").alias("n_sources"))
            .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
            .limit(top_k))


def duplicate_span_sql_duckdb(rel: str, n: int = 8, top_k: int = 20) -> str:
    """DuckDB twin of :func:`duplicate_span_inventory`."""
    return f"""
with {_ngrams_cte_duckdb(rel, n, extra_cols="source")}
select gram,
       count(*) as n_occurrences,
       count(distinct doc_id) as n_docs,
       count(distinct source) as n_sources
from g
group by gram
order by n_occurrences desc, gram asc
limit {top_k}
"""


# ---------------------------------------------------------------------------
# 3. deterministic stratified downsampling
# ---------------------------------------------------------------------------

def sample_hash(id_col: Column) -> Column:
    """Deterministic percent-bucket of a document id (0-99)."""
    return F.pmod(id_col * F.lit(_HASH_A) + F.lit(_HASH_B), F.lit(100))


# Default keep-rate (percent) of a ``lang`` stratum that ``rates`` does
# not name, and the audit table's grouping.
SAMPLE_DEFAULT_RATE = 10
SAMPLE_GROUP_COLS = ("lang", "source")


def stratified_sample(docs: DataFrame, rates: dict[str, int]) -> DataFrame:
    """Keep each document iff its ``doc_id`` hash bucket falls under its
    ``lang`` stratum's keep-rate (percent). Returns ``docs`` filtered — reproducible
    row-for-row across engines, retries, and cluster sizes (no rand()),
    which is what makes downsampling decisions auditable at 100 TB.

    Pure codegen: a CASE over the stratum column and one integer
    hash — the filter pushes down to the scan alongside any other
    predicate.
    """
    return docs.filter(sample_hash(F.col("doc_id"))
                       < _rate_case(rates, SAMPLE_DEFAULT_RATE))


def stratified_sample_summary(docs: DataFrame, rates: dict[str, int],
                              default_rate: int = SAMPLE_DEFAULT_RATE,
                              ) -> DataFrame:
    """Per-(stratum, source) totals and kept counts — the audit table a
    pipeline materializes next to the sampled output."""
    kept = sample_hash(F.col("doc_id")) < _rate_case(rates, default_rate)
    return (docs.groupBy(*SAMPLE_GROUP_COLS)
            .agg(F.count("*").alias("n_total"),
                 F.count(F.when(kept, 1)).alias("n_kept")))


def _rate_case(rates: dict[str, int], default_rate: int) -> Column:
    """Per-row percent from the ``lang`` column: ``rates`` or the default."""
    rate = F.lit(default_rate)
    for k in sorted(rates):
        rate = F.when(F.col("lang") == k, F.lit(rates[k])).otherwise(rate)
    return rate


def stratified_sample_sql_duckdb(rel: str, rates: dict[str, int],
                                 default_rate: int = SAMPLE_DEFAULT_RATE,
                                 ) -> str:
    """DuckDB twin of :func:`stratified_sample_summary` (same hash, same
    CASE)."""
    case = "case " + " ".join(
        f"when lang = '{k}' then {rates[k]}" for k in sorted(rates)
    ) + f" else {default_rate} end"
    cols = ", ".join(SAMPLE_GROUP_COLS)
    return f"""
select {cols},
       count(*) as n_total,
       count(*) filter (
           where (doc_id * {_HASH_A} + {_HASH_B}) % 100 < {case}
       ) as n_kept
from {rel}
group by {cols}
"""


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Patterns written to the Java-regex ∩ RE2 common subset (no lookaround,
# no named groups, ASCII classes) so Spark's regexp_replace/regexp_count
# and the DuckDB twin execute the SAME automaton. The phone pattern uses
# '-' separators only, so it can never overlap the dotted-quad pattern.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses in ``text_col`` —
    the privacy pass every released webtext corpus runs (the C4 /
    RefinedWeb scrub step). Adds ``n_<kind>`` match counts (taken BEFORE
    scrubbing) and ``clean_text`` with every match replaced by its
    placeholder token.

    Whole-stage codegen end-to-end: three ``regexp_count`` + three
    chained ``regexp_replace`` JVM expressions per row — no Python, no
    shuffle, embarrassingly parallel at any corpus size, and the counts
    fold into any downstream map-side aggregate."""
    out = docs
    clean = F.col(text_col)
    for kind, pat, token in PII_PATTERNS:
        out = out.withColumn(f"n_{kind}", F.regexp_count(F.col(text_col),
                                                         F.lit(pat)))
        clean = F.regexp_replace(clean, pat, token)
    return out.withColumn("clean_text", clean)


def pii_scrub_sql_duckdb(rel: str) -> str:
    """DuckDB twin of :func:`pii_scrub` (RE2 executes the same patterns;
    counts via regexp_extract_all, scrub via global regexp_replace)."""
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}')) as n_{kind}"
        for kind, pat, _ in PII_PATTERNS)
    clean = "text"
    for _, pat, token in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{token}', 'g')"
    return f"""
select *,
       {counts},
       {clean} as clean_text
from {rel}
"""


# ---------------------------------------------------------------------------
# URL blocklist filter
# ---------------------------------------------------------------------------

def url_host(url: Column) -> Column:
    """Host component of an http(s) URL (JVM regexp, shared with the
    DuckDB twin via the same pattern string)."""
    return F.regexp_extract(url, r"^https?://([^/]+)/", 1)


def url_blocklist_filter(pages: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Tag every page with the blocklist category of its URL host (NULL =
    not blocked) — the UT1-style domain-blocklist pass crawl pipelines
    run before any text processing. ``blocklist`` is a ``(host,
    category)`` dimension; blocklists are small by construction (UT1 is
    ~4M rows ≈ tens of MB), so the join is an explicit broadcast hash
    join on the extracted host — no shuffle of the corpus side, which is
    the only plan that survives a 100 TB scan. Filter with
    ``.where("block_category is null")`` to keep the clean subset
    (semi-join pushdown applies: the host extract + join key prune to a
    single-column scan of the dimension)."""
    return (pages
            .withColumn("host", url_host(F.col("url")))
            .join(F.broadcast(blocklist.withColumnRenamed(
                "category", "block_category")),
                on="host", how="left"))


# Synthetic host universe example-<k>.test, k < BLOCK_HOSTS; host k is
# blocked iff k % BLOCK_MOD == BLOCK_RESID.
BLOCK_HOSTS, BLOCK_MOD, BLOCK_RESID = 1000, 17, 3


def synth_blocklist(spark):
    """Deterministic blocklist dimension over the synthetic host universe
    ``example-<k>.test``: every ``BLOCK_MOD``-th host is blocked,
    categories rotate adult/malware/gambling (formula shared with the
    DuckDB twin)."""
    return (spark.range(BLOCK_HOSTS)
            .filter(F.pmod(F.col("id"), F.lit(BLOCK_MOD)) == BLOCK_RESID)
            .selectExpr(
                "concat('example-', cast(id as string), '.test') as host",
                "case cast(id % 3 as int) when 0 then 'adult' "
                "when 1 then 'malware' else 'gambling' end as category"))


def synth_blocklist_sql_duckdb() -> str:
    """DuckDB twin of :func:`synth_blocklist` (same formulas)."""
    return f"""
select concat('example-', cast(id as varchar), '.test') as host,
       case cast(id % 3 as int) when 0 then 'adult'
            when 1 then 'malware' else 'gambling' end as category
from range({BLOCK_HOSTS}) t(id) where id % {BLOCK_MOD} = {BLOCK_RESID}
"""


# ---------------------------------------------------------------------------
# 6. boilerplate chunk dedup (CCNet/RefinedWeb paragraph-dedup analogue)
# ---------------------------------------------------------------------------

def chunk_dedup(docs: DataFrame, chunk_words: int = 8, max_docs: int = 2) -> DataFrame:
    """Remove corpus-wide repeated spans from every document: tile each
    text into non-overlapping ``chunk_words``-word chunks, find chunks
    that occur in more than ``max_docs`` distinct documents (navigation
    bars, cookie banners, license footers — the boilerplate CCNet drops
    at paragraph granularity; the deterministic tile stands in for the
    paragraph boundary on corpora whose texts carry no newlines), and
    reassemble each document from its surviving chunks in order.

    Returns ``(id, n_chunks, n_dropped, clean_text)`` for every document.

    Scale shape: one scan → tile explode → group-by chunk with map-side
    partial aggregation (the repeated chunks ARE the heavy groups, so
    the combine absorbs them before the shuffle) → the hot set is
    boilerplate-sized, not corpus-sized → broadcast left join back →
    one per-doc aggregate for reassembly. At 100 TB, group on the
    40-bit chunk hash (``dedup.hash40_sql_duckdb`` has the cross-engine
    twin) instead of the string to bound shuffle width; the string form
    here keeps the oracle byte-exact. All whole-stage codegen — no
    Python nodes.
    """
    k = chunk_words
    words = F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    base = docs.select(F.col("doc_id"), words.alias("_w"))
    # integer ceil-div: every doc has >= 1 word after split, so the
    # sequence below never runs descending.
    n_chunks = F.expr(f"(size(_w) + {k - 1}) div {k}")
    chunks = (base
              .withColumn("_i", F.explode(F.sequence(F.lit(1), n_chunks)))
              .select("doc_id", "_i",
                      F.concat_ws(" ",
                                  F.slice(F.col("_w"),
                                          (F.col("_i") - 1) * k + 1, k))
                      .alias("chunk")))
    hot = (chunks.groupBy("chunk")
           .agg(F.countDistinct("doc_id").alias("_nd"))
           .filter(F.col("_nd") > max_docs)
           .select("chunk", F.lit(1).alias("_hot")))
    j = chunks.join(F.broadcast(hot), "chunk", "left")
    keep = F.when(F.col("_hot").isNull(),
                  F.struct(F.col("_i").alias("i"), F.col("chunk").alias("c")))
    return (j.groupBy("doc_id")
            .agg(F.count("*").alias("n_chunks"),
                 F.count("_hot").alias("n_dropped"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list(keep)),
                                 lambda x: x["c"]), " ").alias("clean_text")))


def chunk_dedup_sql_duckdb(rel: str, chunk_words: int = 8, max_docs: int = 2) -> str:
    """DuckDB twin of :func:`chunk_dedup` (same tiling, same hot rule,
    same in-order reassembly)."""
    k = chunk_words
    return f"""
with w as (
  select doc_id,
         string_split(lower(coalesce(text, '')), ' ') as w
  from {rel}
),
c as (
  select doc_id, i,
         array_to_string(w[(i-1)*{k}+1:(i-1)*{k}+{k}], ' ') as chunk
  from w, unnest(generate_series(1, (len(w) + {k - 1}) // {k})) t(i)
),
hot as (
  select chunk from c group by chunk
  having count(distinct doc_id) > {max_docs}
)
select doc_id,
       count(*) as n_chunks,
       count(*) filter (where chunk in (select chunk from hot))
           as n_dropped,
       coalesce(string_agg(chunk, ' ' order by i)
                filter (where chunk not in (select chunk from hot)), '')
           as clean_text
from c
group by doc_id
"""


# ---------------------------------------------------------------------------
# 7. training-sequence packing
# ---------------------------------------------------------------------------

# Ordering hash for packing (distinct constants from the sampling hash so
# shard assignment and intra-shard order are independent). Same int64
# domain bound as _HASH_A above.
_ORD_A = 1103515245
_ORD_B = 54321
_ORD_MOD = 100000007


def pack_sequences(docs: DataFrame, budget: int = 256, n_shards: int = 8) -> DataFrame:
    """Assign every document to a training sequence of at most ~``budget``
    whitespace tokens: documents are sharded by an arithmetic id hash,
    deterministically ordered within the shard (hash order — a cheap
    shuffle of the corpus order, so sequences don't inherit crawl
    locality), and packed contiguously — a document starts a new
    sequence when the running token total crosses the budget. This is
    the deterministic contiguous-fill packing used to build fixed-length
    LM training batches; greedy best-fit packs ~1-2% tighter but is
    order-dependent and unreproducible under retries.

    Returns ``(id, shard, seq_id, n_tokens)`` per document.

    Scale shape: one scan → integer hash + token count (codegen) → ONE
    shuffle on ``shard`` with an in-partition sort (the window is
    partitioned by shard, never global — set ``n_shards`` to the target
    output-shard count, which scales with the cluster). The running sum
    is a streaming frame, so memory per partition is O(1) beyond the
    sort.
    """
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    shard = F.pmod(F.col("doc_id") * _HASH_A + _HASH_B, F.lit(n_shards))
    ord_h = F.pmod(F.col("doc_id") * _ORD_A + _ORD_B, F.lit(_ORD_MOD))
    from pyspark.sql import Window
    w = (Window.partitionBy("shard")
         .orderBy("ord_h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (docs
            .select(F.col("doc_id"), shard.alias("shard"),
                    ord_h.alias("ord_h"), toks.alias("n_tokens"))
            .withColumn("_cum_before",
                        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
            .select("doc_id", "shard",
                    F.expr(f"_cum_before div {budget}").alias("seq_id"),
                    "n_tokens"))


def pack_sequences_sql_duckdb(rel: str, budget: int = 256, n_shards: int = 8) -> str:
    """DuckDB twin of :func:`pack_sequences` (same hashes, same window)."""
    return f"""
with d as (
  select doc_id,
         (doc_id * {_HASH_A} + {_HASH_B}) % {n_shards} as shard,
         (doc_id * {_ORD_A} + {_ORD_B}) % {_ORD_MOD} as ord_h,
         len(regexp_split_to_array(trim(text), '\\s+')) as n_tokens
  from {rel}
)
select doc_id, shard,
       coalesce(sum(n_tokens) over (
           partition by shard order by ord_h, doc_id
           rows between unbounded preceding and 1 preceding), 0)
           // {budget} as seq_id,
       n_tokens
from d
"""


# ---------------------------------------------------------------------------
# 8. per-source document cap (host-level crawl rebalancing)
# ---------------------------------------------------------------------------

def source_cap(docs: DataFrame, k: int = 10, n_salts: int = 4) -> DataFrame:
    """Keep at most ``k`` documents per source (host/domain), preferring
    the highest ``n_chars`` with ``doc_id`` as a total-order tie-break —
    the per-host cap crawl pipelines apply so that one giant forum
    doesn't dominate the corpus.

    Returns the kept rows as ``(doc_id, source, n_chars, rk)`` with
    ``rk`` the 1-based within-source rank.

    Scale shape: a one-window top-k per host melts down when one host
    holds 10^9 pages (that single window partition becomes one task's
    sort). This runs the exact two-phase form instead: a salted local
    top-k per ``(source, salt)`` — correct because every global top-k
    member is also in its own salt group's top-k — cuts each source to
    at most ``k * n_salts`` rows before the per-source window ranks the
    survivors. Both windows are partitioned (never global); the second
    one sorts at most ``k * n_salts`` rows per source.
    """
    from pyspark.sql import Window
    salt = F.pmod(F.col("doc_id") * _HASH_A + _HASH_B, F.lit(n_salts))
    w1 = (Window.partitionBy("source", "_salt")
          .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
    w2 = (Window.partitionBy("source")
          .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
    local = (docs
             .select("doc_id", "source", "n_chars")
             .withColumn("_salt", salt)
             .withColumn("_r1", F.row_number().over(w1))
             .filter(F.col("_r1") <= k))
    return (local
            .withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select("doc_id", "source", "n_chars", "rk"))


def source_cap_sql_duckdb(rel: str, k: int = 10) -> str:
    """DuckDB twin of :func:`source_cap` — the plain one-window top-k,
    which the salted two-phase form is exactly equal to."""
    return f"""
select doc_id, source, n_chars, rk
from (
  select doc_id, source, n_chars,
         row_number() over (partition by source
                            order by n_chars desc, doc_id asc) as rk
  from {rel}
)
where rk <= {k}
"""


# ---------------------------------------------------------------------------
# 9. epoch mixture planner (per-language sampling weights)
# ---------------------------------------------------------------------------

def epoch_mix(docs: DataFrame, targets: dict[str, int],
              default_pct: int = 0) -> DataFrame:
    """Per-language token totals and the sampling weight that reshapes
    the corpus toward a target token mixture: ``weight = target_pct *
    total_tokens / (100 * lang_tokens)`` — weight > 1 means the language
    is under-represented vs the target and gets repeated/upsampled,
    < 1 means downsampled (the data-mixing planning step of an LLM
    pipeline; DoReMi and the Llama recipes publish exactly this table).

    Returns ``(lang, n_docs, n_tokens, target_pct, mix_weight)``.

    Scale shape: one scan → token count in codegen → lang-keyed partial
    aggregate (bounded key space) → constant-key broadcast of the
    one-row total. Nothing here is corpus-sized after the first
    aggregate.
    """
    from zen3geo_spark.operators._util import pair_all

    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    per = (docs.select(F.col("lang"), toks.alias("_t"))
           .groupBy("lang")
           .agg(F.count("*").alias("n_docs"),
                F.sum("_t").alias("n_tokens")))
    total = per.agg(F.sum("n_tokens").alias("_total"))
    tgt = _rate_case(targets, default_pct)
    return (pair_all(per, total)
            .withColumn("target_pct", tgt)
            .select("lang", "n_docs", "n_tokens", "target_pct",
                    F.round(F.col("target_pct") * F.col("_total") /
                            (F.lit(100.0) * F.col("n_tokens")), 6)
                    .alias("mix_weight")))


def epoch_mix_sql_duckdb(rel: str, targets: dict[str, int],
                         default_pct: int = 0) -> str:
    """DuckDB twin of :func:`epoch_mix` (same token split, same CASE,
    same arithmetic order)."""
    case = "case " + " ".join(
        f"when lang = '{k}' then {targets[k]}" for k in sorted(targets)
    ) + f" else {default_pct} end"
    return f"""
with per as (
  select lang, count(*) as n_docs,
         sum(len(regexp_split_to_array(trim(text), '\\s+')))
             as n_tokens
  from {rel} group by lang
),
tot as (select sum(n_tokens) as total from per)
select lang, n_docs, n_tokens,
       ({case}) as target_pct,
       round(({case}) * tot.total / (100.0 * n_tokens), 6) as mix_weight
from per, tot
"""


def c4_segment_clean(pages: DataFrame, id_col: str = "url",
                     text_col: str = "text",
                     min_tokens: int = 3) -> DataFrame:
    """C4-style segment-level cleanup (Raffel et al. 2020 §2.2 shape):
    split each document into terminal-punctuation segments, keep only
    segments with at least ``min_tokens`` whitespace tokens, drop
    documents with no surviving segment, and re-join the survivors in
    original order → (id, n_segments, n_kept, clean_text).

    The whole pass is higher-order array expressions over one scan —
    ``split`` → ``transform(trim)`` → ``filter`` → ``array_join`` — so
    there is no explode, no shuffle, and no Python: per-row cost is
    bounded by the document length and the operator is embarrassingly
    parallel at 10^12 rows. Determinism: segment order is source order
    (split preserves it), so ``clean_text`` is byte-stable.
    """
    segs = (f"filter(transform(split({text_col}, '[.!?]+'), "
            f"s -> trim(s)), s -> length(s) > 0)")
    kept = (f"filter({segs}, "
            f"s -> size(split(s, '\\\\s+')) >= {min_tokens})")
    return (pages.selectExpr(
        id_col,
        f"cast(size({segs}) as bigint) as n_segments",
        f"cast(size({kept}) as bigint) as n_kept",
        f"array_join({kept}, '. ') as clean_text")
        .filter("n_kept > 0"))


def c4_segment_clean_sql_duckdb(rel: str, id_col: str = "url",
                                text_col: str = "text",
                                min_tokens: int = 3) -> str:
    """DuckDB twin of :func:`c4_segment_clean` (list_transform /
    list_filter / array_to_string preserve order identically)."""
    segs = (f"list_filter(list_transform("
            f"regexp_split_to_array({text_col}, '[.!?]+'), "
            f"s -> trim(s)), s -> length(s) > 0)")
    kept = (f"list_filter({segs}, "
            f"s -> len(regexp_split_to_array(s, '\\s+')) >= {min_tokens})")
    return f"""
with _p as ({rel})
select {id_col},
       cast(len({segs}) as bigint) as n_segments,
       cast(len({kept}) as bigint) as n_kept,
       array_to_string({kept}, '. ') as clean_text
from _p
where len({kept}) > 0
"""
