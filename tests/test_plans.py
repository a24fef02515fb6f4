"""Physical-plan quality gates: these are the properties that make the
operators survive a 100x scale-up — filters reaching the parquet scan,
dimension sides broadcast, no nested-loop/cartesian fallbacks, column
pruning. A regression here is a performance bug even when results stay
correct."""

from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_asof_join_pushes_event_type_filter(spark):
    plan = _plan(E.q_asof_join(spark, SF))
    assert "PushedFilters: [" in plan
    assert "event_type" in plan.split("PushedFilters:", 1)[1][:200]


def test_interval_join_broadcasts_intervals(spark):
    plan = _plan(E.q_interval_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pip_join_is_broadcast_equi_join_not_nested_loop(spark):
    plan = _plan(E.q_pip_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pip_join_refines_map_side_after_broadcast_join(spark):
    """The broadcast PIP join refines candidates in the partition they
    sit in: above the join there is a MapInArrow and no shuffle, no
    grouped pandas UDF and no polygon coordinates riding along."""
    plan = _plan(E.q_pip_join(spark, SF))
    above = plan.split("BroadcastHashJoin", 1)[0]
    assert "MapInArrow" in above
    for node in ("Exchange", "FlatMapGroupsInPandas", "parts"):
        assert node not in above, node


def test_rasterize_polygon_burns_map_side(spark):
    """The polygon burn pairs against a broadcast canvas and runs its kernel
    map-side: no grouped pandas UDF, and the only non-broadcast shuffle is
    the pixel aggregate."""
    plan = _plan(E.q_rasterize_polygon(spark, SF))
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInArrow" in plan
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert len(shuffles) == 1, shuffles
    assert "hashpartitioning(canvas_id" in shuffles[0]


def test_vector_scan_bbox_prune_pushdown(spark, tmp_path):
    """scan_vectors' bbox predicate must reach the parquet scan."""
    from zen3geo_spark.sources.raster import scan_vectors

    path = str(tmp_path / "geoms")
    spark.range(100).selectExpr(
        "id as geom_id",
        "cast(id as double) as minx", "cast(id as double) as miny",
        "cast(id + 1 as double) as maxx", "cast(id + 1 as double) as maxy",
    ).write.mode("overwrite").parquet(path)
    df = scan_vectors(spark, path, bbox=(10.0, 10.0, 20.0, 20.0))
    plan = _plan(df)
    pushed = plan.split("PushedFilters:", 1)[1][:300]
    assert "minx" in pushed and "maxy" in pushed
    assert df.count() > 0


def test_tile_scan_level_filter_pushdown(spark, tmp_path):
    from zen3geo_spark.sources.raster import scan_tiles

    path = str(tmp_path / "tiles")
    spark.range(1000).selectExpr(
        "cast(id % 10 as int) as level", "cast(id % 3 as int) as band",
        "cast(id as double) as value",
    ).write.mode("overwrite").parquet(path)
    df = scan_tiles(spark, path, overview_level=3, bands=[0, 1])
    plan = _plan(df)
    pushed = plan.split("PushedFilters:", 1)[1][:300]
    assert "level" in pushed
    assert df.count() > 0


def test_token_quality_column_pruning(spark):
    """A 2-column projection must not read the whole documents schema."""
    plan = _plan(E.q_token_quality(spark, SF))
    read = plan.split("ReadSchema:", 1)[1][:200]
    assert "text" in read and "doc_id" in read
    assert "source" not in read and "lang" not in read


def test_mosaic_is_single_hash_aggregate_no_window(spark):
    """First-valid mosaic must stay a (partial+final) hash aggregate —
    not a sort or window — so the shuffle carries one row per pixel."""
    plan = _plan(E.q_mosaic(spark, SF))
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_knn_cells_no_cartesian(spark):
    plan = _plan(E.q_knn_cells(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batcher_zipper_no_global_window(spark):
    """batcher/zipper must never funnel all rows through one task: no
    Window at all (per-partition numbering + broadcast offsets) and no
    single-partition exchange anywhere in the plan."""
    for q in (E.q_batcher, E.q_zipper):
        plan = _plan(q(spark, SF))
        assert "Window" not in plan, plan
        assert "SinglePartition" not in plan, plan


def test_embed_neardup_no_nested_loop(spark):
    """The exact near-dup pair query must stay block-decomposed: no
    BroadcastNestedLoopJoin / CartesianProduct (an all-pairs join). Its
    grouped scorer must not make applyInPandas warn that it cannot infer
    the eval type from partial type hints (once per plan build)."""
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        plan = _plan(E.q_embed_neardup(spark, SF))
    assert not [x for x in w if "Cannot infer the eval type" in str(x.message)]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_no_nested_loop_or_cartesian_in_any_query(spark):
    """GLOBAL invariant: every driver-contract query plans without a
    BroadcastNestedLoopJoin or CartesianProduct. Intentional pair-with-all
    shapes go through the constant-key equi-join (`_util.pair_all`), which
    plans as a BroadcastHashJoin with identical semantics."""
    bad = {}
    for name, fn in E.queries().items():
        plan = _plan(fn(spark, SF))
        hits = [n for n in ("BroadcastNestedLoopJoin", "CartesianProduct")
                if n in plan]
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_near_dup_verified_semi_joins_candidates_no_corpus_broadcast(spark):
    """The verify stage must shrink the shingle-array table to candidate
    ids with a LEFT-SEMI join before the wide join — never broadcast a
    frame derived from the full corpus (driver OOM at scale). The
    shipping path localCheckpoints the stage boundary (which hides the
    semi-join behind an RDD leaf), so inspect the cut_lineage=False
    tree."""
    from zen3geo_spark.operators.dedup import (
        minhash_lsh_candidates, verify_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cand = minhash_lsh_candidates(docs, num_hashes=8, bands=4, shingle_n=2)
    plan = _plan(verify_jaccard_pairs(cand, docs, shingle_n=2,
                                      cut_lineage=False))
    assert "LeftSemi" in plan, plan
    # and the default (shipping) plan reads checkpointed leaves — the
    # LSH/shingle subtrees appear ONCE at materialization, not once per
    # plan reference
    cut = _plan(E.q_near_dup_verified(spark, SF))
    assert "Scan ExistingRDD" in cut, cut


def test_lsh_signature_tables_cached_once(spark):
    """minhash/simhash band tables are localCheckpointed: both self-join
    sides must read the SAME materialized RDD leaf (the signature kernel
    evaluates once per query, and the kernel subtree no longer appears
    per plan reference — zero MapInPandas nodes in the final plan)."""
    for q in (E.q_minhash_lsh, E.q_simhash):
        plan = _plan(q(spark, SF))
        assert plan.count("Scan ExistingRDD") >= 2, q
        assert "MapInPandas" not in plan, q


def test_batcher_numbering_partitioning_is_pinned(spark):
    """with_global_pos localCheckpoints the repartitioned frame so the
    counts job and the numbering job see ONE physical partitioning
    (RangePartitioner samples with a per-execution seed otherwise; the
    truncated lineage makes a silent re-draw impossible)."""
    plan = _plan(E.q_batcher(spark, SF))
    assert "Scan ExistingRDD" in plan, plan


def test_connected_components_lineage_truncated(spark):
    """Per-round localCheckpoint keeps the FINAL plan O(1) — without it
    the plan compounds to thousands of shuffle/Python nodes by
    convergence (round-2 verdict measured 6,922 exchanges)."""
    from zen3geo_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100 + i, 100 + i + 1) for i in range(5)],
        "a_id long, b_id long")
    comp = connected_components(edges)
    plan = _plan(comp)
    assert plan.count("Exchange") <= 10, plan.count("Exchange")
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert all(got[i] == 0 for i in range(31))
    assert all(got[100 + i] == 100 for i in range(6))


def test_bucketed_cell_join_has_no_exchange(spark, tmp_path):
    """Co-located join contract: two tables bucketed the same way on the
    cell key must join with ZERO Exchange (and, with sorted buckets, no
    extra Sort) — the storage-layout plan shape that makes repeated
    spatial joins shuffle-free at 100 TB."""
    from zen3geo_spark.plans.bucketing import colocated_join, write_bucketed

    spark.sql(f"create database if not exists bktest location '{tmp_path}'")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        pts = spark.range(10000).selectExpr(
            "id as point_id", "id % 97 as cell", "id * 3 % 7 as w")
        dim = spark.range(97).selectExpr("id as cell", "id % 5 as zone")
        write_bucketed(pts, "bktest.pts", "cell", buckets=8)
        write_bucketed(dim, "bktest.dim", "cell", buckets=8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = colocated_join(spark, "bktest.pts", "bktest.dim", "cell")
        plan = _plan(out)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert out.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("drop database if exists bktest cascade")


def test_snapshot_prune_partition_filters(spark, tmp_path):
    """Hive-style partition pruning: the snap filter must land in the
    scan's PartitionFilters (directory-level pruning at planning time),
    and only the two matching partition directories are read."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "by_snap")
    (spark.range(1000)
     .selectExpr("id", "cast(id % 10 as int) as snap")
     .write.mode("overwrite").partitionBy("snap").parquet(path))
    df = spark.read.parquet(path).filter(F.col("snap").isin(3, 7))
    plan = _plan(df)
    pf = plan.split("PartitionFilters:", 1)[1][:200]
    assert "snap" in pf and ("IN (3,7)" in pf.replace(" ", "")
                             or "in(3,7)" in pf.replace(" ", "").lower())
    assert df.count() == 200
