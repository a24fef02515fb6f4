"""Distributed BPE (byte-pair-encoding) merge TRAINING.

The standard tokenizer-training algorithm (Sennrich et al. 2016;
Gage 1994 — public): start from characters, repeatedly merge the most
frequent adjacent symbol pair. The scalable shape (what HF tokenizers'
trainer also exploits) is that after ONE corpus-sized word-count
aggregate, every merge round runs on the VOCABULARY table (Heaps-law
bounded), not the corpus: pair counts weight by word frequency, the
argmax is a 1-row planning collect, and the merge is a literal string
replace over vocab rows. k rounds = k bounded vocab passes — no
per-round corpus scan, no Python in the hot path.

Symbol-sequence encoding: tokens separated by DOUBLE spaces with a
single leading/trailing space (`' h  e  l  l  o '`). Double delimiters
make non-overlapping left-to-right `replace(' a  b ', ' ab ')` merge
CONSECUTIVE occurrences correctly (each match consumes one space from
each side, leaving the neighbor's delimiter intact) — the exact greedy
semantics of the reference BPE merge, achievable with the plain SQL
``replace`` in both engines. Pair counting counts ALL adjacent pairs
(overlaps included), also per the reference algorithm.

Determinism: argmax ties break (count desc, pair_a asc, pair_b asc) —
a total order, so Spark and the DuckDB chained-CTE twin learn the
identical merge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# one char -> ' c ' each; adjacent chars share two spaces
_CHARS_SPARK = r"regexp_replace({w}, '(.)', ' $1 ')"
_CHARS_DUCK = r"regexp_replace({w}, '(.)', ' \1 ', 'g')"


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, n) over lowercase alpha words — the ONE corpus-sized pass."""
    toks = docs.select(F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"))
    return (toks.filter(F.col("word").rlike("^[a-z]+$"))
            .groupBy("word").agg(F.count("*").alias("n")))


def word_counts_sql_duckdb(rel: str) -> str:
    return f"""
    select word, count(*) as n from (
      select unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
             as word
      from {rel}
    ) where regexp_matches(word, '^[a-z]+$')
    group by word
    """


def bpe_train(words: DataFrame, n_merges: int) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a (word, n) vocabulary table.
    Returns ``(rank, pair_a, pair_b, n_occ)`` — the merge list, most
    frequent first, the artifact a tokenizer ships."""
    seqs = words.select(
        "n", F.expr(_CHARS_SPARK.format(w="word")).alias("seq"))
    seqs = seqs.localCheckpoint(eager=False)
    merges = []
    for rank in range(1, n_merges + 1):
        toks = seqs.select(
            "n", F.split(F.trim(F.col("seq")), "  ").alias("t"))
        pairs = toks.select(
            "n",
            F.explode(F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1).alias("pa"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("pb"),
            )).alias("p"))
        best = (pairs.groupBy(F.col("p.pa").alias("pa"),
                              F.col("p.pb").alias("pb"))
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("pa").asc(),
                         F.col("pb").asc())
                .limit(1).collect())
        if not best:
            break
        pa, pb, cnt = best[0].pa, best[0].pb, int(best[0].cnt)
        merges.append((rank, pa, pb, cnt))
        seqs = seqs.select("n", F.expr(
            "replace(seq, ' ' || {a} || '  ' || {b} || ' ',"
            " ' ' || {a} || {b} || ' ')".format(
                a=_sql_str(pa), b=_sql_str(pb))).alias("seq"))
        seqs = seqs.localCheckpoint(eager=False)
    spark = words.sparkSession
    return spark.createDataFrame(
        merges, "rank int, pair_a string, pair_b string, n_occ long")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def bpe_encode_token_counts(words: DataFrame,
                            merges: list[tuple[str, str]]) -> DataFrame:
    """APPLY a learned merge list: segment every vocabulary word by the
    merges (in rank order — the BPE encode rule), then emit corpus
    token frequencies ``(token, n_occ)`` weighted by word counts — the
    tokenize step of the pipeline, still vocab-sized after the one
    corpus word-count pass. ``merges`` is the (pair_a, pair_b) list
    from :func:`bpe_train` (driver-side, merge-count-sized)."""
    seqs = words.select(
        "n", F.expr(_CHARS_SPARK.format(w="word")).alias("seq"))
    for pa, pb in merges:
        seqs = seqs.select("n", F.expr(
            "replace(seq, ' ' || {a} || '  ' || {b} || ' ',"
            " ' ' || {a} || {b} || ' ')".format(
                a=_sql_str(pa), b=_sql_str(pb))).alias("seq"))
    toks = seqs.select(
        "n", F.explode(F.split(F.trim(F.col("seq")), "  ")).alias("token"))
    return toks.groupBy("token").agg(F.sum("n").alias("n_occ"))


def bpe_train_sql_duckdb(words_rel: str, n_merges: int) -> str:
    """Chained-CTE twin of :func:`bpe_train`: round r's top pair feeds
    round r+1's replace via a 1-row cross join — the same argmax +
    greedy-replace recurrence, unrolled. Every stage is
    ``AS MATERIALIZED``: each _s{{r}} is referenced twice (pair counts +
    next replace), and DuckDB's default CTE inlining would otherwise
    re-derive the whole chain per reference — exponential in rounds."""
    chars = _CHARS_DUCK.format(w="word")
    ctes = [f"_s0 as materialized (select n, {chars} as seq from {words_rel})"]
    outs = []
    for r in range(1, n_merges + 1):
        prev = f"_s{r - 1}"
        ctes.append(f"""
    _p{r} as materialized (
      select t[i] as pa, t[i + 1] as pb, sum(n) as cnt
      from (select n, string_split(trim(seq), '  ') as t from {prev}),
           lateral (select unnest(generate_series(1, len(t) - 1)) as i)
      group by 1, 2
    )""")
        ctes.append(f"""
    _t{r} as materialized (
      select pa, pb, cnt from _p{r}
      order by cnt desc, pa asc, pb asc limit 1
    )""")
        ctes.append(f"""
    _s{r} as materialized (
      select s.n,
             replace(s.seq, ' ' || t.pa || '  ' || t.pb || ' ',
                     ' ' || t.pa || t.pb || ' ') as seq
      from {prev} s, _t{r} t
    )""")
        outs.append(f"select {r} as rank, pa as pair_a, pb as pair_b, "
                    f"cnt as n_occ from _t{r}")
    return ("with " + ",".join(ctes) + "\n    "
            + " union all ".join(outs))


def bpe_encode_sql_duckdb(words_rel: str, n_merges: int) -> str:
    """Token-frequency twin: re-learns the merges with the same chained
    CTEs (re-verifying them), then splits the FINAL segmentation —
    token counts out."""
    train = bpe_train_sql_duckdb(words_rel, n_merges)
    # keep the CTE chain, swap the final union-all select for the
    # token-count select over the last stage
    head, _, _ = train.rpartition("\n    ")
    return f"""{head}
    select token, sum(n) as n_occ from (
      select n, unnest(string_split(trim(seq), '  ')) as token
      from _s{n_merges}
    ) group by token
    """
