"""Temporal joins Spark lacks as built-ins, re-expressed shuffle-once.

``asof_join`` is the classic time-series operator (pandas ``merge_asof``,
DuckDB/QuestDB ``ASOF JOIN``): for every left row, the single right row
with the greatest right timestamp ≤ the left timestamp, per key. Spark
has no native as-of join; the naive encoding — an inequality theta-join
— is a nested-loop/range join that dies at scale. The scalable plan used
here is the **union-tag + running last_value** decomposition:

1. tag right rows side=0 and left rows side=1, project both onto a
   common schema (keys, ts, side, left-payload struct, right-payload
   struct — the absent side NULL);
2. union (no shuffle yet — union is plan-level);
3. one window over (partition by keys, order by ts, side) taking
   ``last(right_payload, ignorenulls=True)`` over rows UNBOUNDED
   PRECEDING..CURRENT — each left row picks up the latest right row at
   or before its timestamp (side 0 < 1 makes the equal-ts right row
   visible, i.e. the ``>=`` match DuckDB ASOF uses);
4. keep side=1 rows and unnest the payload structs.

Cost: ONE hash shuffle of (|L|+|R|) rows on the join keys plus an
in-partition sort — the same price as any windowed aggregate, no
replication, no range explosion, and AQE-splittable like every other
exchange. Per-key data need not fit in memory (Spark windows spill),
but a single pathological key serializes within its partition — the
same caveat as any per-key window, documented here rather than hidden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Backward as-of left join: every ``left`` row gains the columns of
    the latest ``right`` row (same ``keys``) whose ``ts`` is ≤ the left
    row's ``ts``; NULLs when no prior right row exists. Right's key/ts
    columns and any name collisions come back suffixed ``_r``.

    Matches DuckDB ``ASOF LEFT JOIN`` semantics (``>=`` match) — the
    ``asof_join`` driver query is value-hash-checked against exactly
    that. Forward as-of is the mirror image (order descending, FOLLOWING
    frame); sessionization and windowed aggregates live in
    ``streaming/windows.py``.
    """
    lcols = [c for c in left.columns if c not in keys]
    rcols = [c for c in right.columns if c not in keys]
    rstruct = right.select(F.struct(*rcols).alias("_r")).schema["_r"].dataType

    tagged_l = left.select(
        *keys,
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_l"),
        F.lit(None).cast(rstruct).alias("_r"),
    )
    tagged_r = right.select(
        *keys,
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*lcols).alias("_l")).schema["_l"].dataType
        ).alias("_l"),
        F.struct(*rcols).alias("_r"),
    )

    w = (Window.partitionBy(*keys).orderBy("_ts", "_side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (tagged_l.unionByName(tagged_r)
               .withColumn("_m", F.last("_r", ignorenulls=True).over(w))
               .filter(F.col("_side") == 1))

    out = matched.select(
        *keys,
        *[F.col(f"_l.{c}").alias(c) for c in lcols],
        *[F.col(f"_m.{c}").alias(c + "_r") for c in rcols],
    )
    return out


def interval_join(events: DataFrame, intervals: DataFrame,
                  bucket_secs: int) -> DataFrame:
    """Range-containment join (the brief's "range join"): every event
    row paired with every interval containing its timestamp
    (``start <= ts < end``; intervals may overlap, so an event can
    match several — the semantics an as-of join cannot express).

    Spark's native encoding of ``ts BETWEEN start AND end`` is a
    broadcast-nested-loop theta join — quadratic and memory-bound at
    scale. The scalable plan here is the classic **bucketized range
    join** (what Databricks' range-join optimization and postgres GiST
    effectively do): intervals explode to the epoch buckets of width
    ``bucket_secs`` they overlap (bounded fan-out
    ``1 + len/bucket_secs`` — pick the bucket near the typical interval
    length), events map to their single bucket, equi-join on the
    bucket, then the exact containment refine runs in codegen. Each
    (event, interval) pair meets exactly once — in the event's bucket —
    so no post-join dedup is needed.

    Returns the joined frame (all event columns + all interval
    columns); aggregate downstream.
    """
    b = int(bucket_secs)
    ev = events.withColumn(
        "_b", F.expr(f"unix_timestamp(ts) div {b}"))
    iv = intervals.withColumn(
        "_b", F.expr(
            f"explode(sequence(unix_timestamp(start_ts) div {b}, "
            f"unix_timestamp(end_ts) div {b}))"))
    return (ev.join(iv, "_b")
            .filter((F.col("ts") >= F.col("start_ts"))
                    & (F.col("ts") < F.col("end_ts")))
            .drop("_b"))


def scd2_compact(obs: DataFrame, key: str, ord_col: str,
                 val_col: str) -> DataFrame:
    """SCD-2 history compaction: collapse per-key observation history
    into validity intervals → (key, val_col, valid_from, valid_to),
    one row per maximal run of consecutive equal values. The
    Iceberg-/warehouse-style "what did this url look like over time"
    consolidation a recurring crawl accumulates; also the change-data
    capture shape Structured Streaming sinks emit.

    Scale shape: TWO windows over the SAME (key, ord) partitioning —
    Catalyst reuses one Exchange + sort for both (change detection via
    lag, interval close via lead) — so the whole compaction costs one
    shuffle of the observation table. Per-key work is bounded by the
    snapshot count (observations per url), never corpus-wide; no key is
    hot because urls repeat at most once per epoch. All comparisons are
    equality/integer, so the DuckDB twin matches bit-for-bit.
    ``valid_to`` is inclusive; the open current interval carries the
    key's max ordinal."""
    w = Window.partitionBy(key).orderBy(ord_col)
    chg = (obs
           .withColumn("_prev", F.lag(val_col).over(w))
           .withColumn("_last", F.max(ord_col).over(
               Window.partitionBy(key)))
           .filter(F.col("_prev").isNull()
                   | (F.col(val_col) != F.col("_prev"))))
    wc = Window.partitionBy(key).orderBy(ord_col)
    return (chg
            .withColumn("valid_to",
                        F.coalesce(F.lead(ord_col).over(wc) - 1,
                                   F.col("_last")))
            .select(key, val_col,
                    F.col(ord_col).alias("valid_from"), "valid_to"))


def cusum_screen(series: DataFrame, key_col: str, ord_col: str,
                 val_col: str, drift_k: int = 1,
                 threshold: int = 6) -> DataFrame:
    """Two-sided integer CUSUM change-point screen over per-key series
    → the flagged rows (key, t, value, c_plus, c_minus). The
    crawl-ops drift monitor: CUSUM accumulates small sustained shifts
    that a per-point spike test (``event_anomaly``) never sees.

    The textbook recurrence ``C⁺_t = max(0, C⁺_{t−1} + v_t − μ − k)``
    is sequential, which a distributed window cannot run directly; the
    classic prefix-sum identity rewrites it closed-form:

        C⁺_t = S_t − min(0, min_{j≤t} S_j),  S = prefix sum of (v−μ−k)

    (and symmetrically C⁻ with (μ−v−k)) — so the whole screen is two
    prefix sums + two running mins over ONE (key, t) window: a single
    shuffle, map-side-combinable nothing, spill-safe like any window.
    μ is the per-key floor-mean (sum div n) — integer, so every
    quantity is exact bigint and the flagged set is hash-identical
    cross-engine. ``drift_k`` is the slack per step, ``threshold`` the
    alarm level, both in value units."""
    w = (Window.partitionBy(key_col).orderBy(ord_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    mu = (series.groupBy(key_col)
          .agg(F.expr(f"sum({val_col}) div count(*)").alias("_mu")))
    d = (series.join(mu, on=key_col)
         .withColumn("_dp", F.col(val_col) - F.col("_mu") - F.lit(drift_k))
         .withColumn("_dm", F.col("_mu") - F.col(val_col) - F.lit(drift_k)))
    s = (d.withColumn("_sp", F.sum("_dp").over(w))
         .withColumn("_sm", F.sum("_dm").over(w))
         .withColumn("c_plus",
                     F.col("_sp") - F.least(F.lit(0), F.min("_sp").over(w)))
         .withColumn("c_minus",
                     F.col("_sm") - F.least(F.lit(0), F.min("_sm").over(w))))
    return (s.filter((F.col("c_plus") > threshold)
                     | (F.col("c_minus") > threshold))
            .select(key_col, ord_col, val_col, "c_plus", "c_minus"))


def cusum_screen_sql(series_sql: str, key_col: str, ord_col: str,
                     val_col: str, drift_k: int = 1,
                     threshold: int = 6) -> str:
    """Engine-neutral SQL twin of :func:`cusum_screen` (identical
    window frames; `//` floor-div works in DuckDB, the Spark side never
    runs this string)."""
    return f"""
with _ser as ({series_sql}),
_mu as (select {key_col}, sum({val_col}) // count(*) as _mu
        from _ser group by {key_col}),
_d as (select s.*, s.{val_col} - m._mu - {drift_k} as _dp,
              m._mu - s.{val_col} - {drift_k} as _dm
       from _ser s join _mu m using ({key_col})),
_ps as (select {key_col}, {ord_col}, {val_col},
               sum(_dp) over wk as _sp, sum(_dm) over wk as _sm
        from _d
        window wk as (partition by {key_col} order by {ord_col}
                      rows between unbounded preceding and current row)),
_s as (select {key_col}, {ord_col}, {val_col}, _sp, _sm,
              min(_sp) over wk as _minsp, min(_sm) over wk as _minsm
       from _ps
       window wk as (partition by {key_col} order by {ord_col}
                     rows between unbounded preceding and current row))
select {key_col}, {ord_col}, {val_col},
       _sp - least(0, _minsp) as c_plus,
       _sm - least(0, _minsm) as c_minus
from _s
where _sp - least(0, _minsp) > {threshold}
   or _sm - least(0, _minsm) > {threshold}
"""


def merge_upsert(base: DataFrame, updates: DataFrame, key_col: str,
                 ord_col: str) -> DataFrame:
    """MERGE INTO semantics (Iceberg/Delta upsert) as one equi-join:
    apply a change batch (``op`` = 'U' upsert / 'D' delete) onto a
    base snapshot → the next snapshot with an ``action`` audit column
    ('keep' / 'update' / 'insert'; deletes drop out). The recurring
    crawl's warehouse step: fold a day's re-crawl into the canonical
    page table.

    Change batches can carry several ops per key; the LAST one wins —
    the standard CDC collapse — via a struct-max aggregate
    ``max(struct(ord, op, payload…))`` (map-side combinable, not a
    window; the struct lexicographic order makes even an ord tie
    deterministic, so the output is hash-exact). The merge itself is a
    url-keyed FULL OUTER equi-join: unique keys both sides ⇒ skew-free
    and bucket-co-locatable at 10^12 rows (the same layout argument as
    ``crawl_delta``)."""
    payload = [c for c in updates.columns
               if c not in (key_col, ord_col, "op")]
    pick = ", ".join([ord_col, "op"] + payload)
    last = (updates.groupBy(key_col)
            .agg(F.expr(f"max(struct({pick}))").alias("_u"))
            .select(key_col, F.col("_u.op").alias("_op"),
                    *[F.col(f"_u.{c}").alias(f"_u_{c}") for c in payload],
                    F.lit(1).alias("_in_upd")))
    bcols = [c for c in base.columns if c != key_col]
    b = base.select(key_col,
                    *[F.col(c).alias(f"_b_{c}") for c in bcols],
                    F.lit(1).alias("_in_base"))
    j = b.join(last, on=key_col, how="full_outer")
    merged = j.filter(F.col("_in_upd").isNull() | (F.col("_op") != "D"))
    out_cols = [
        F.when(F.col("_in_upd").isNotNull(), F.col(f"_u_{c}"))
        .otherwise(F.col(f"_b_{c}")).alias(c) if c in payload
        else F.col(f"_b_{c}").alias(c)
        for c in bcols
    ]
    action = (F.when(F.col("_in_upd").isNull(), F.lit("keep"))
              .when(F.col("_in_base").isNull(), F.lit("insert"))
              .otherwise(F.lit("update")))
    return merged.select(key_col, *out_cols, action.alias("action"))


def snapshot_as_of(log: DataFrame, key_col: str, ord_col: str,
                   versions: list[int],
                   payload_cols: list[str]) -> DataFrame:
    """Time-travel read (Iceberg/Delta ``VERSION AS OF``): reconstruct
    the table state as of EACH requested version from a CDC op log
    ``(key, ord, op, payload…)`` — op 'D' deletes the key, anything
    else upserts — in ONE scan: a constant fan-out explode of the
    version list, then per (version, key) the last-writer-wins arg-max
    on ``ord`` (``max_by`` — a map-side-combinable hash aggregate, no
    window sort), dropping keys whose last op is a delete.

    Cost is |log| × |versions| into one shuffle on (version, key) —
    at 10^12 rows the version list is the handful a reader pins, and
    the aggregate combines map-side, so this beats replaying the log
    once per version by the version count. ``ord`` must be unique per
    key (CDC sequence number), which makes the arg-max deterministic
    and the output hash-exact."""
    vs = ", ".join(str(v) for v in versions)
    pay = [F.col(f"_last.{c}").alias(c) for c in payload_cols]
    lg = (log.selectExpr(f"explode(array({vs})) as version", "*")
          .filter(F.col(ord_col) <= F.col("version")))
    agg = lg.groupBy("version", key_col).agg(
        F.max_by(F.struct(F.col("op"),
                          *[F.col(c) for c in payload_cols]),
                 F.col(ord_col)).alias("_last"))
    return (agg.filter("_last.op <> 'D'")
            .select("version", key_col, *pay))


def snapshot_as_of_sql_duckdb(log_sql: str, key_col: str, ord_col: str,
                              versions: list[int],
                              payload_cols: list[str]) -> str:
    """DuckDB twin of :func:`snapshot_as_of` — the window-argmax form
    (row_number over ord desc); equivalent because ``ord`` is unique
    per key."""
    vs = ", ".join(str(v) for v in versions)
    pays = ", ".join(payload_cols)
    return f"""
    with _log as ({log_sql}),
    _x as (
      select v.version, l.*,
             row_number() over (partition by v.version, l.{key_col}
                                order by l.{ord_col} desc) as _rk
      from _log l, (select unnest([{vs}]) as version) v
      where l.{ord_col} <= v.version
    )
    select version, {key_col}, {pays}
    from _x where _rk = 1 and op <> 'D'
    """


def funnel_counts(events: DataFrame, stages: list[str]) -> DataFrame:
    """Ordered funnel analysis (the event-analytics staple): how many
    users reached stage k — where reaching stage k means an ordered
    chain e_1 < e_2 < … < e_k of events of the stage types, each
    STRICTLY after the user's earliest completion of the previous
    stage (the greedy/earliest-completion semantics every funnel engine
    uses; greedy is optimal here, so it equals "any ordered chain").

    Plan: one conditional aggregate per stage on the SAME user key —
    k sequential hash aggregates + joins that all share one
    partitioning (no per-event window, no explode). Output:
    (stage_idx, stage, n_users) with n_users non-increasing.
    """
    cur = (events.filter(F.col("event_type") == stages[0])
           .groupBy("user_id")
           .agg(F.min("ts").alias("_t0")))
    out = [(0, stages[0], cur)]
    for i, st in enumerate(stages[1:], start=1):
        nxt = (events.filter(F.col("event_type") == st)
               .join(out[-1][2].select("user_id", F.col("_t0")), "user_id")
               .filter(F.col("ts") > F.col("_t0"))
               .groupBy("user_id")
               .agg(F.min("ts").alias("_t0")))
        out.append((i, st, nxt))
    rows = None
    for i, st, df in out:
        r = df.agg(F.count("*").alias("n_users")).selectExpr(
            f"{i} as stage_idx", f"'{st}' as stage", "n_users")
        rows = r if rows is None else rows.unionByName(r)
    return rows


def funnel_counts_sql(rel: str, stages: list[str]) -> str:
    """Engine-neutral twin of :func:`funnel_counts`."""
    parts = [f"""s0 as (
      select user_id, min(ts) as t0 from {rel}
      where event_type = '{stages[0]}' group by user_id)"""]
    for i, st in enumerate(stages[1:], start=1):
        parts.append(f"""s{i} as (
      select e.user_id, min(e.ts) as t0
      from {rel} e join s{i - 1} p on e.user_id = p.user_id
      where e.event_type = '{st}' and e.ts > p.t0
      group by e.user_id)""")
    sels = " union all ".join(
        f"select {i} as stage_idx, '{st}' as stage, "
        f"(select count(*) from s{i}) as n_users"
        for i, st in enumerate(stages))
    return "with " + ",\n".join(parts) + "\n" + sels
