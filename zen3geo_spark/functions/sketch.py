"""Count-min sketch over corpus tokens — the streaming heavy-hitter /
frequency-estimation sketch (Cormode & Muthukrishnan 2005).

A 100 TB pipeline can't afford an exact per-token groupBy when it only
needs approximate frequencies for a watchlist (spam markers, benchmark
leak phrases, vocabulary pruning thresholds): the sketch is a fixed
``d × w`` integer grid regardless of corpus size. Build = explode tokens
× d rows → hash-bucket → one map-side-combinable groupBy producing at
most d·w cells (the ONLY shuffle, bounded by the sketch size, not the
data). Estimate = min over the d cells a token hashes to, upper-bounded
by true_count + εN with ε = e/w at failure probability e^-d.

Determinism: bucket hashes use Kirsch–Mitzenmacher double hashing
``(h1 + j·h2) mod w`` over the two shared 40-bit polynomial hashes
(``dedup.gram_hash40``), so DuckDB reproduces every cell exactly —
the sketch itself value-hash-matches cross-engine, not just the
estimates. All arithmetic stays < 2^42, int64-safe on every engine.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zen3geo_spark.operators.dedup import (
    _POWS1_NP, _POWS2_NP, _poly_hash_batch, gram_hash40, hash40_sql_duckdb,
)


def corpus_tokens(docs: DataFrame) -> DataFrame:
    """One row per token occurrence (lowercased, single-space split — the
    corpus tokenization shared across text.py/dedup.py/curation.py)."""
    return docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")


def cm_bucket(token: Column, j: Column | int, width: int) -> Column:
    """Row-``j`` bucket of ``token``: (h1 + j·h2) mod width."""
    jj = F.lit(j) if isinstance(j, int) else j
    return F.pmod(gram_hash40(token, 1) + jj * gram_hash40(token, 2),
                  F.lit(width))


def count_min_build(docs: DataFrame, depth: int = 4, width: int = 512) -> DataFrame:
    """Build the sketch: DataFrame (j, bucket, cnt), ≤ depth·width rows.

    Each partition accumulates its ENTIRE token stream into one local
    d×w grid inside a single mapInPandas pass (vectorized
    ``_poly_hash_batch`` over the batch-distinct tokens — token
    vocabularies repeat heavily, so each distinct string hashes once per
    batch), then emits only the nonzero cells. The final groupBy sums
    per-partition grids, so the one shuffle moves O(partitions · d · w)
    rows — independent of corpus size. This is the same partial-combine
    shape a JVM TypedImperativeAggregate would produce, at Arrow speed."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grid = np.zeros((depth, width), dtype=np.int64)
        for pdf in batches:
            toks: list[str] = []
            for t in pdf["text"]:
                if t:
                    toks.extend(w for w in t.lower().split(" ") if w)
            if not toks:
                continue
            uniq, counts = np.unique(np.array(toks, dtype=object),
                                     return_counts=True)
            h1 = _poly_hash_batch(list(uniq), _POWS1_NP)
            h2 = _poly_hash_batch(list(uniq), _POWS2_NP)
            for j in range(depth):
                np.add.at(grid[j], (h1 + j * h2) % width, counts)
        jj, bb = np.nonzero(grid)
        yield pd.DataFrame({"j": jj.astype(np.int32), "bucket": bb,
                            "cnt": grid[jj, bb]})

    partials = docs.select("text").mapInPandas(
        partial, schema="j int, bucket long, cnt long")
    return partials.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))


def count_min_estimate(sketch: DataFrame, probes: DataFrame,
                       depth: int = 4, width: int = 512) -> DataFrame:
    """Point-query the sketch for every row of ``probes`` (column
    ``token``): est = min_j sketch[j][bucket_j(token)]. The sketch is
    ≤ d·w rows by construction, so it broadcasts into the probe side —
    no corpus access at query time at all. An absent (j, bucket) cell
    means zero hits there, hence the left join + coalesce(cnt, 0): a
    never-seen token estimates 0 unless every one of its d cells
    collides."""
    keyed = probes.select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    ).select("token", "j", cm_bucket(F.col("token"), F.col("j"), width)
             .alias("bucket"))
    return (keyed.join(F.broadcast(sketch), on=["j", "bucket"], how="left")
            .groupBy("token")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")))


def count_min_sql_duckdb(rel: str, probe_tokens: list[str],
                         depth: int = 4, width: int = 512) -> str:
    """DuckDB twin: same tokenization, same double-hash buckets, same
    build + min-estimate, plus the exact count per probe so the query
    doubles as its own accuracy audit."""
    probes = ", ".join(f"('{t}')" for t in probe_tokens)
    h1 = hash40_sql_duckdb("token", 1)
    h2 = hash40_sql_duckdb("token", 2)
    return f"""
with toks as (
  select unnest(string_split(lower(text), ' ')) as token from {rel}
),
toks_nz as (select token from toks where token <> ''),
hashed as (select token, {h1} as h1, {h2} as h2 from toks_nz),
cells as (
  select j, (h1 + j * h2) % {width} as bucket
  from hashed, (select unnest(generate_series(0, {depth - 1})) as j)
),
sketch as (select j, bucket, count(*) as cnt from cells group by j, bucket),
probes as (select token from (values {probes}) v(token)),
probe_cells as (
  select token, j, ({h1} + j * {h2}) % {width} as bucket
  from probes, (select unnest(generate_series(0, {depth - 1})) as j)
),
est as (
  select token, min(coalesce(cnt, 0)) as est
  from probe_cells pc left join sketch s using (j, bucket)
  group by token
),
exact as (
  select token, count(*) as true_cnt from toks_nz group by token
)
select e.token, e.est, coalesce(x.true_cnt, 0) as true_cnt
from est e left join exact x using (token)
"""


# ---------------------------------------------------------------------------
# Bloom filter (crawl-frontier membership: "seen in the previous snapshot?")
# ---------------------------------------------------------------------------
#
# At 10^12 URLs the seen-set cannot broadcast and an exact anti-join
# shuffles both snapshots; a Bloom filter of m bits is orders smaller
# (the classic Bloom 1970 trade: no false negatives, tunable false-
# positive rate (1 - e^{-kn/m})^k), so the common case — a URL the
# filter rejects — never touches the seen table at all, and only the
# filter's passes need the exact re-check. Bit positions use the same
# Kirsch–Mitzenmacher double hashing over the shared 40-bit polynomials
# as the count-min sketch, so DuckDB reproduces every word exactly and
# the filter itself (not just the decisions) is cross-engine
# deterministic. Words are 32-bit (mask < 2^32) so shift/OR semantics
# are identical on both engines with no sign-bit edge. Build and probe
# (Spark and DuckDB alike) read the one size below: a probe that hashed
# into a different filter size would return false negatives.

BLOOM_BITS = 1 << 15
BLOOM_HASHES = 4


def _with_key_hashes(df: DataFrame, key_col: str,
                     with_h2: bool = True) -> DataFrame:
    """Append h1 (and h2 unless ``with_h2=False`` — HLL needs one hash,
    the double-hashing sketches need both) via one Arrow-vectorized
    pass — the hot-path twin of the ``gram_hash40`` Column helper,
    value-identical (pytest-pinned through the count-min/bloom parity
    suites)."""
    from pyspark.sql.types import LongType, StructField, StructType

    new_fields = [StructField("h1", LongType())]
    if with_h2:
        new_fields.append(StructField("h2", LongType()))
    schema = StructType(list(df.schema.fields) + new_fields)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys = [k if k is not None else "" for k in pdf[key_col]]
            pdf = pdf.copy()
            pdf["h1"] = _poly_hash_batch(keys, _POWS1_NP)
            if with_h2:
                pdf["h2"] = _poly_hash_batch(keys, _POWS2_NP)
            yield pdf

    return df.mapInPandas(partial, schema=schema)


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """Build the filter over ``keys``: DataFrame (word, bits) with at
    most BLOOM_BITS/32 rows. One Arrow hash pass, one explode to k bit
    positions, one map-side-combinable ``bit_or`` groupBy — the only
    shuffle is bounded by the filter size, not the key count."""
    hashed = _with_key_hashes(keys.select(key_col), key_col)
    return (hashed
            .withColumn("j", F.explode(F.sequence(F.lit(0),
                                                  F.lit(BLOOM_HASHES - 1))))
            .selectExpr(f"pmod(h1 + j * h2, {BLOOM_BITS}) as bitpos")
            .selectExpr("bitpos div 32 as word",
                        "shiftleft(cast(1 as bigint), cast(bitpos % 32 as int)) as mask")
            .groupBy("word")
            .agg(F.expr("bit_or(mask)").alias("bits")))


def bloom_probe(probes: DataFrame, bloom: DataFrame, key_col: str,
                carry: tuple[str, ...] = ()) -> DataFrame:
    """Membership-test every probe row: (key, *carry, bloom_pass).

    The filter broadcasts (≤ BLOOM_BITS/32 rows); the probe side explodes to
    its k (word, mask) lookups, broadcast-left-joins, and a per-key
    all-k-bits-set reduction decides. No shuffle touches the probe data
    except the final per-key groupBy (map-side combinable, k rows per
    key)."""
    hashed = _with_key_hashes(probes.select(key_col, *carry), key_col)
    expanded = (hashed
                .withColumn("j", F.explode(F.sequence(
                    F.lit(0), F.lit(BLOOM_HASHES - 1))))
                .selectExpr(key_col, *carry,
                            f"pmod(h1 + j * h2, {BLOOM_BITS}) as bitpos")
                .selectExpr(key_col, *carry,
                            "bitpos div 32 as word",
                            "shiftleft(cast(1 as bigint), cast(bitpos % 32 as int)) as mask"))
    hit = (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
           == F.col("mask"))
    # min-reduction ("every lookup hit"), not sum == k: it stays correct
    # even when the probe side carries duplicate keys (k rows per
    # occurrence would make the sum a multiple of k)
    return (expanded.join(F.broadcast(bloom), "word", "left")
            .groupBy(key_col, *carry)
            .agg((F.min(F.when(hit, 1).otherwise(0)) == 1)
                 .alias("bloom_pass")))


def bloom_cte_sql_duckdb(keys_sel: str, key_col: str) -> str:
    """DuckDB SELECT producing the identical (word, bits) filter over
    ``keys_sel`` (a relation/CTE name or parenthesized subquery)."""
    h1 = hash40_sql_duckdb(key_col, 1)
    h2 = hash40_sql_duckdb(key_col, 2)
    return f"""
select bitpos // 32 as word, bit_or((1::bigint << (bitpos % 32)::int)) as bits
from (
  select ({h1} + j * {h2}) % {BLOOM_BITS} as bitpos
  from {keys_sel},
       (select unnest(generate_series(0, {BLOOM_HASHES - 1})) as j)
)
group by word"""


def bloom_pass_sql_duckdb(probe_sel: str, bloom_rel: str, key_col: str,
                          carry: tuple[str, ...] = ()) -> str:
    """DuckDB SELECT producing (key, *carry, bloom_pass) matching
    :func:`bloom_probe` exactly."""
    h1 = hash40_sql_duckdb(key_col, 1)
    h2 = hash40_sql_duckdb(key_col, 2)
    carry_cols = "".join(f", {c}" for c in carry)
    return f"""
select {key_col}{carry_cols},
       min(case when (coalesce(b.bits, 0) & pc.mask) = pc.mask
                then 1 else 0 end) = 1 as bloom_pass
from (
  select {key_col}{carry_cols}, bitpos // 32 as word,
         (1::bigint << (bitpos % 32)::int) as mask
  from (
    select {key_col}{carry_cols},
           ({h1} + j * {h2}) % {BLOOM_BITS} as bitpos
    from {probe_sel},
         (select unnest(generate_series(0, {BLOOM_HASHES - 1})) as j)
  )
) pc left join {bloom_rel} b using (word)
group by {key_col}{carry_cols}"""


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) — cardinality estimation
# ---------------------------------------------------------------------------
#
# Completes the sketch family (count-min = frequencies, KMV = distinct
# via order statistics, Bloom = membership): HLL is the production
# standard for distinct counts at 10^12 scale because its state is m
# fixed registers regardless of cardinality and registers merge with
# max() — exactly the map-side-combinable shape Spark aggregates want.
#
# Cross-engine exactness: register index = h mod m, remainder
# w = h div m < 2^30; rho = (30 - bitlength(w) + 1) uses length(bin(w)),
# identical on Spark and DuckDB. The harmonic sum Σ 2^-reg is a sum of
# dyadic rationals (reg ∈ [0, 31]) whose every partial sum fits a
# 53-bit mantissa, so it is EXACT and order-independent in IEEE double —
# the one FP reduction in the estimator costs no determinism. The final
# alpha·m²/S is a single correctly-rounded division of a shared decimal
# literal; only the small-range linear-counting branch (m·ln(m/V))
# touches libm, and both engines agree to well past the 6 decimals the
# oracle rounds to.

HLL_P = 10
HLL_M = 1 << HLL_P                # 1024 registers
HLL_W = 30                        # bits left in h div m (h < 2^40)
# 0.7213 / (1 + 1.079/m) * m^2, evaluated once and shared as a literal
HLL_ALPHA_M2 = 755541.746198293


def hll_registers(keys: DataFrame, key_col: str,
                  group_cols: tuple[str, ...] = (),
                  use_arrow: bool = True) -> DataFrame:
    """(group..., idx, reg): max leading-zero rank per register. The
    groupBy is bounded by groups × m, not by key count. ``use_arrow``
    hashes through the vectorized ``_poly_hash_batch`` pass (the hot
    path for corpus-scale keys); False uses the interpreted
    ``gram_hash40`` Column (value-identical, pytest-pinned)."""
    if use_arrow:
        hashed = _with_key_hashes(keys.select(*group_cols, key_col), key_col,
                                  with_h2=False)
        h = F.col("h1")
    else:
        hashed = keys
        h = gram_hash40(F.col(key_col), 1)
    # h/1024 is exact in double (h < 2^40 ≪ 2^53); the long cast floors
    base = hashed.select(*group_cols,
                         F.pmod(h, F.lit(HLL_M)).alias("idx"),
                         (h / HLL_M).cast("long").alias("_w"))
    rho = F.when(F.col("_w") == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W) - F.length(F.expr("bin(_w)")) + 1)
    return (base.select(*group_cols, "idx", rho.alias("rho"))
            .groupBy(*group_cols, "idx")
            .agg(F.max("rho").alias("reg")))


def hll_estimate(registers: DataFrame,
                 group_cols: tuple[str, ...] = ()) -> DataFrame:
    """(group..., est_distinct, registers_hit) from the register table.
    Empty registers contribute 2^0 = 1 to the harmonic sum; the
    linear-counting branch corrects the small range."""
    term = F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), cast(reg as int))")
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").alias("v_hit"),
        F.sum(term).alias("s_hit"),
    )
    harmonic = (F.lit(HLL_M) - F.col("v_hit")).cast("double") + F.col("s_hit")
    raw = F.lit(HLL_ALPHA_M2) / harmonic
    v_zero = F.lit(HLL_M) - F.col("v_hit")
    est = F.when((raw <= 2.5 * HLL_M) & (v_zero > 0),
                 F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_zero)
                 ).otherwise(raw)
    return agg.select(*group_cols,
                      est.alias("est_distinct"),
                      F.col("v_hit").alias("registers_hit"))


# ---------------------------------------------------------------------------
# Quantile sketch (HDR-histogram-style log-linear buckets)
# ---------------------------------------------------------------------------
#
# Completes the sketch family's last axis (count-min = frequencies,
# Bloom = membership, KMV/HLL = distinct, this = quantiles): percentile
# thresholds (doc-length cutoffs for quality filters, latency p99s) over
# 10^12 rows can't sort, and Spark's approx_percentile isn't
# reproducible outside Spark. This sketch is: positive integers bucket
# into log-linear bins — ``shift = max(msb - p, 0)``, ``top = v >>
# shift``, ``idx = shift·2^(p+1) + top`` — using ONLY integer ops
# (length(bin(v)), shifts), so Spark and DuckDB produce the identical
# histogram, cell for cell. idx is monotone in v, buckets merge by
# summing counts (map-side combinable; the one shuffle is bounded by
# the ≤ 64·shifts bucket count, not the data), and a rank-q query walks
# the cumulative histogram with integer ranks ceil(pct·n/100) =
# (pct·n + 99) div 100 — no FP anywhere, so the q-th value's bucket
# [lo, hi] is cross-engine exact with relative width ≤ 2^-p.

QS_P = 5                      # sub-bucket bits: relative error ≤ 1/32
QS_STRIDE = 1 << (QS_P + 1)   # 64: idx stride per shift level


def qsketch_build(vals: DataFrame, val_col: str,
                  group_cols: tuple[str, ...] = ()) -> DataFrame:
    """(group..., idx, cnt) log-linear histogram of positive ints."""
    filtered = vals.select(*group_cols, val_col).filter(F.col(val_col) >= 1)
    shift = F.greatest(F.length(F.expr(f"bin({val_col})")) - 1 - QS_P,
                       F.lit(0))
    b = (filtered
         .withColumn("_shift", shift)
         .withColumn("_top", F.expr(
             f"{val_col} div shiftleft(cast(1 as bigint), "
             "cast(_shift as int))")))
    return (b.select(*group_cols,
                     (F.col("_shift") * QS_STRIDE + F.col("_top"))
                     .alias("idx"))
            .groupBy(*group_cols, "idx")
            .agg(F.count("*").alias("cnt")))


def qsketch_quantiles(sketch: DataFrame, pcts: tuple[int, ...],
                      group_cols: tuple[str, ...] = ()) -> DataFrame:
    """(group..., q_pct, n, est_lo, est_hi): the bucket holding the
    rank-ceil(pct·n/100) value per group. The two windows run over the
    SKETCH (bounded by bucket count by construction), never the data —
    the same size argument that lets the other sketches broadcast."""
    from pyspark.sql.window import Window

    w_ord = (Window.partitionBy(*group_cols).orderBy("idx")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = (Window.partitionBy(*group_cols)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    cum = (sketch
           .withColumn("cum", F.sum("cnt").over(w_ord))
           .withColumn("n", F.sum("cnt").over(w_all)))
    e = cum.select(*group_cols, "idx", "cum", "n",
                   F.explode(F.array(*[F.lit(p) for p in pcts]))
                   .alias("q_pct"))
    hit = (e.filter(F.col("cum") >= F.expr("(q_pct * n + 99) div 100"))
           .groupBy(*group_cols, "q_pct", "n")
           .agg(F.min("idx").alias("idx")))
    lo = F.expr(f"shiftleft(idx % {QS_STRIDE}, cast(idx div {QS_STRIDE} "
                "as int))")
    hi = F.expr(f"shiftleft(idx % {QS_STRIDE} + 1, cast(idx div "
                f"{QS_STRIDE} as int)) - 1")
    return hit.select(*group_cols, "q_pct", "n",
                      lo.alias("est_lo"), hi.alias("est_hi"))


def qsketch_sql_duckdb(vals_sel: str, val_col: str, pcts: tuple[int, ...],
                       group_cols: tuple[str, ...] = ()) -> str:
    """DuckDB SELECT of (group..., q_pct, n, est_lo, est_hi) matching
    qsketch_build → qsketch_quantiles exactly (all-integer bucketing
    and ranks — no FP to diverge)."""
    gsel = "".join(f"{c}, " for c in group_cols)
    gby = ", ".join(group_cols)
    part = f"partition by {gby} " if group_cols else ""
    shift = f"greatest(length(bin({val_col})) - 1 - {QS_P}, 0)"
    return f"""
select {gsel}q_pct, n,
       (idx % {QS_STRIDE}) << (idx // {QS_STRIDE})::int as est_lo,
       ((idx % {QS_STRIDE} + 1) << (idx // {QS_STRIDE})::int) - 1 as est_hi
from (
  select {gsel}q_pct, n, min(idx) as idx
  from (
    select {gsel}idx, cum, n, q_pct
    from (
      select {gsel}idx, cnt,
             (sum(cnt) over ({part}order by idx))::bigint as cum,
             (sum(cnt) over ({part}))::bigint as n
      from (
        select {gsel}{shift} * {QS_STRIDE}
                 + ({val_col} >> {shift}) as idx,
               count(*) as cnt
        from (select {gsel}{val_col} from {vals_sel}
              where {val_col} >= 1)
        group by {(gby + ", idx") if group_cols else "idx"}
      )
    ), (select unnest([{", ".join(str(p) for p in pcts)}]) as q_pct)
  )
  where cum >= (q_pct * n + 99) // 100
  group by {(gby + ", q_pct, n") if group_cols else "q_pct, n"}
)
"""


def hll_sql_duckdb(keys_sel: str, key_col: str,
                   group_cols: tuple[str, ...] = ()) -> str:
    """DuckDB SELECT of (group..., est_distinct, registers_hit) matching
    hll_registers → hll_estimate exactly."""
    h = hash40_sql_duckdb(key_col, 1)
    gsel = "".join(f"{c}, " for c in group_cols)
    gby = ", ".join(group_cols) if group_cols else ""
    gby_idx = (gby + ", idx") if gby else "idx"
    return f"""
select {gsel}
       case when {HLL_ALPHA_M2} / harmonic <= {2.5 * HLL_M}
                 and ({HLL_M} - v_hit) > 0
            then {float(HLL_M)} * ln({float(HLL_M)} / ({HLL_M} - v_hit))
            else {HLL_ALPHA_M2} / harmonic end as est_distinct,
       v_hit as registers_hit
from (
  select {gsel}count(*) as v_hit,
         (({HLL_M} - count(*)) * 1.0
          + sum(1.0 / (1::bigint << reg::int))) as harmonic
  from (
    select {gsel}idx, max(rho) as reg
    from (
      select {gsel}h % {HLL_M} as idx,
             case when h // {HLL_M} = 0 then {HLL_W + 1}
                  else {HLL_W} - length(bin(h // {HLL_M})) + 1 end as rho
      from (select {gsel}{h} as h from {keys_sel})
    )
    group by {gby_idx}
  )
  {"group by " + gby if gby else ""}
)
"""


def kmv_intersect(a_docs: DataFrame, b_docs: DataFrame, k: int = 256) -> DataFrame:
    """KMV set-intersection sketch between two corpora's token
    vocabularies (Beyer et al. 2007 §4): keep the ``k`` minimum hash
    values of the UNION vocabulary (tie-broken by token — total order,
    so the sample is deterministic), count how many of those sample
    tokens live in both sides, and derive

    * ``jaccard_milli``  = 1000·|sample ∩ both| // k_used   (the KMV
      Jaccard estimator — the sample is a uniform draw of the union),
    * ``union_est``      = (k_used−1)·2^40 // h_k  (k-th minimum
      spacing estimator of the distinct-union cardinality),
    * exact ``n_both`` over the sample for the audit.

    Scale shape: each side is one distinct-vocabulary aggregate (map-
    side combinable), the union merge is a vocabulary-sized groupBy,
    and the k-minimum cut is a TakeOrdered (per-partition top-k then a
    k-sized driver merge) — nothing data-sized crosses the wire. The
    shared 40-bit polynomial hash makes every value cross-engine exact.
    """
    def side(docs, flag):
        return (corpus_tokens(docs).select("token").distinct()
                .select("token", F.lit(flag).alias("_side")))

    u = (side(a_docs, 0).unionByName(side(b_docs, 1))
         .groupBy("token")
         .agg(F.max(F.when(F.col("_side") == 0, 1).otherwise(0)).alias("in_a"),
              F.max(F.when(F.col("_side") == 1, 1).otherwise(0)).alias("in_b"))
         .withColumn("h", gram_hash40(F.col("token"), 1)))
    topk = u.orderBy("h", "token").limit(k)
    return topk.agg(
        F.count("*").alias("k_used"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        F.expr("cast(1000 * sum(in_a * in_b) div count(*) as bigint)")
        .alias("jaccard_milli"),
        F.expr("cast((count(*) - 1) * 1099511627776 div max(h) as bigint)")
        .alias("union_est"))


def kmv_intersect_sql_duckdb(a_rel: str, b_rel: str, k: int = 256) -> str:
    """DuckDB twin of :func:`kmv_intersect` (same tokenization, same
    hash, same (h, token) total order)."""
    h = hash40_sql_duckdb("token", 1)
    def toks(rel, flag):
        return (f"select token, {flag} as _side from ("
                f"select distinct unnest(string_split(lower(text), ' ')) as token "
                f"from {rel}) where token <> ''")
    return f"""
with _u as (
  select token, max(case when _side = 0 then 1 else 0 end) as in_a,
         max(case when _side = 1 then 1 else 0 end) as in_b
  from ({toks(a_rel, 0)} union all {toks(b_rel, 1)})
  group by token
),
_h as (select token, in_a, in_b, {h} as h from _u),
_k as (select * from _h order by h, token limit {k})
select count(*) as k_used,
       sum(in_a * in_b) as n_both,
       cast(1000 * sum(in_a * in_b) // count(*) as bigint) as jaccard_milli,
       cast((count(*) - 1) * 1099511627776 // max(h) as bigint) as union_est
from _k
"""
