"""Distributed suffix-array construction by prefix doubling.

The infrastructure of exact substring-level dedup (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better", §3 — their
ExactSubstr dedup builds a suffix array over the tokenized corpus):
global lexicographic ranks of every token suffix of the corpus. Adjacent
ranks with long common prefixes are exactly the repeated substrings the
dedup pass cuts; this module builds the rank structure itself with pure
DataFrame ops — the Manber–Myers prefix-doubling recurrence
(r_{k+1}(i) = dense_rank(r_k(i), r_k(i + 2^k))) on a distributed table.

Scale shape per round: one offset self-EQUI-join on the global position
(unique key — skew-free), one distinct-pair aggregate, one scale-safe
global numbering (``with_global_pos`` — range partition + per-partition
counts, never a single-task window), one join back. ceil(log2(L_max+2))
rounds total where L_max is the longest document in TOKENS — document
boundaries carry unique sentinels, so no comparison ever needs to read
past a document end and the round count is bounded by the longest DOC,
not the corpus (8 rounds cover 254-token docs at any corpus size).

Cross-engine exactness: ranks are dense ranks of (bigint, bigint) pairs
— integer, total-ordered, and the DuckDB twin unrolls the identical
recurrence with window dense_rank, so the final table value-hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from zen3geo_spark.operators.combinators import with_global_pos

SENTINEL = "\x01"  # sorts before every real token in both engines


def suffix_ranks(docs: DataFrame, rounds: int = 8) -> DataFrame:
    """Global suffix ranks over the corpus token stream →
    ``(doc, pos, gpos, rank)``; ``pos`` is the 1-based token position in
    the doc, ``gpos`` the global corpus position (doc-major), ``rank``
    the suffix's dense lexicographic rank after ``rounds`` doublings.

    With ``2^rounds ≥ longest_doc_tokens + 2`` the ranks are the exact
    suffix array; fewer rounds give the 2^rounds-prefix ranks (still
    deterministic and twin-exact — the oracle runs the same rounds).
    Sentinel rows are emitted too (rank of the empty-ish suffix), so
    callers slicing repeated substrings can see document ends.
    """
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("pos0", "tok")).selectExpr("doc", "pos0 + 1 as pos", "tok")
    sent = (toks.groupBy("doc")
            .agg((F.max("pos") + 1).alias("pos"))
            .select("doc", "pos",
                    F.concat(F.lit(SENTINEL),
                             F.col("doc").cast("string")).alias("tok")))
    allt = toks.unionByName(sent)
    g = (with_global_pos(allt, ["doc", "pos"], "gpos")
         .select("doc", "pos", "gpos", "tok"))

    # r0: dense rank of the token itself
    vocab = (with_global_pos(g.select("tok").distinct(), ["tok"], "r")
             .select("tok", "r"))
    cur = (g.join(vocab, "tok").select("doc", "pos", "gpos", "r")
           .localCheckpoint(eager=False))

    for k in range(rounds):
        off = 1 << k
        nxt = cur.select((F.col("gpos") - off).alias("gpos"),
                         F.col("r").alias("_r2"))
        paired = (cur.join(nxt, "gpos", "left")
                  .select("doc", "pos", "gpos", "r",
                          F.coalesce("_r2", F.lit(0)).alias("r2")))
        ranks = (with_global_pos(
            paired.select("r", "r2").distinct(), ["r", "r2"], "_nr")
            .select("r", "r2", "_nr"))
        cur = (paired.join(ranks, ["r", "r2"])
               .select("doc", "pos", "gpos", F.col("_nr").alias("r"))
               .localCheckpoint(eager=False))
    return cur.select("doc", "pos", "gpos", F.col("r").alias("rank"))


def suffix_ranks_sql_duckdb(rel: str, rounds: int = 8) -> str:
    """DuckDB twin: the identical recurrence, unrolled, with window
    dense_rank for the global numbering."""
    arr = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    parts = [
        f"""toks as (
      select doc_id as doc, generate_subscripts({arr}, 1) as pos,
             unnest({arr}) as tok
      from {rel})""",
        """sent as (
      select doc, max(pos) + 1 as pos,
             chr(1) || cast(doc as varchar) as tok
      from toks group by doc)""",
        "allt as (select * from toks union all select * from sent)",
        """g as (
      select doc, pos, tok,
             row_number() over (order by doc, pos) as gpos
      from allt)""",
        """r0 as (
      select doc, pos, gpos, dense_rank() over (order by tok) as r
      from g)""",
    ]
    for k in range(rounds):
        off = 1 << k
        parts.append(f"""p{k} as (
      select a.doc, a.pos, a.gpos, a.r, coalesce(b.r, 0) as r2
      from r{k} a left join r{k} b on b.gpos = a.gpos + {off})""")
        parts.append(f"""r{k + 1} as (
      select doc, pos, gpos, dense_rank() over (order by r, r2) as r
      from p{k})""")
    return ("with " + ",\n".join(parts)
            + f"\nselect doc, pos, gpos, r as rank from r{rounds}")
