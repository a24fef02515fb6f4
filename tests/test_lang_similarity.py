"""Language-ID, embedding near-dup, and stack+mosaic pipeline goldens."""

import math

from pyspark.sql import functions as F

from zen3geo_spark.functions.text import lang_id
from zen3geo_spark.operators.mosaic import mosaic_first_valid
from zen3geo_spark.operators.similarity import cosine_near_dup_pairs_blocked
from zen3geo_spark.operators.stacker import stack


def test_lang_id_goldens(spark):
    rows = [
        (0, "The cat and a dog of ours went to town"),       # en
        (1, "der Hund und die Katze und das Haus"),          # de
        (2, "yang dan di dari ini dan yang"),                # id (beats ms: 'dari')
        (3, "xyzzy plugh qwerty"),                           # no stopwords → und
        (4, ""),                                             # empty → und
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "id"
    assert got[3] == "und"
    assert got[4] == "und"


def test_lang_id_tiebreak_deterministic(spark):
    # 'yang dan di' hits both ms and id stopword lists with equal count 3
    # → first language code in sorted order ('id' < 'ms') wins
    df = spark.createDataFrame([(0, "yang dan di")], "doc_id long, text string")
    assert df.select(lang_id(F.col("text")).alias("l")).first()["l"] == "id"


def test_cosine_near_dup_pairs(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.01]),   # ~parallel to 0
        (2, [0.0, 1.0]),    # orthogonal to 0
        (3, [-1.0, 0.0]),   # antiparallel
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["a_id"], r["b_id"]): r["cos"]
           for r in cosine_near_dup_pairs_blocked(emb, threshold=0.9).collect()}
    assert set(got) == {(0, 1)}
    assert math.isclose(got[(0, 1)], 1.0 / math.sqrt(1.0001), rel_tol=1e-12)
    # id ordering invariant: a_id < b_id always
    assert all(a < b for a, b in got)


def test_cosine_near_dup_all_pairs(spark):
    rows = [(i, [1.0, 0.0]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    all_pairs = cosine_near_dup_pairs_blocked(emb, threshold=0.99).count()
    assert all_pairs == 10  # C(5,2)


def test_stack_band_select_bounds_and_snap(spark):
    import __spark_entry__ as E
    cube = stack(E._item_tiles(spark), assets=["vv"],
                 bounds=(0.0, 0.0, 40.0, 30.0), xmin=0.0, ymax=30.0, res=2.0)
    rows = cube.collect()
    assert all(r["band"] == "vv" for r in rows)
    # y > 0 cut drops the yi=15 row of each item; 15 rows x 16 cols x 3 items
    assert len(rows) == 3 * 15 * 16
    # snap math: x_idx = xi + 2*item, y_idx = yi
    for r in rows:
        assert r["x_idx"] == int(r["x"] / 2.0)
        assert r["y_idx"] == int((30.0 - r["y"]) / 2.0)


def test_stack_mosaic_first_valid_fallthrough(spark):
    import __spark_entry__ as E
    cube = stack(E._item_tiles(spark), assets=["vv"],
                 bounds=(0.0, 0.0, 40.0, 30.0), xmin=0.0, ymax=30.0, res=2.0)
    out = mosaic_first_valid(cube, order_col="time", nodata=0.0)
    by_px = {(r["y_idx"], r["x_idx"]): (r["value"], r["src"]) for r in out.collect()}
    # pixel (0,0): item 0 is nodata there (yi<4 strip) and items 1,2 don't
    # cover x_idx 0 (their grids start at x_idx 2 and 4) → absent entirely
    assert (0, 0) not in by_px
    # pixel (0,2): item 0 nodata, item 1 covers (xi=0,yi=0) → value 1000, src 1
    assert by_px[(0, 2)] == (1000.0, 1)
    # pixel (5,0): only item 0 covers, valid (yi=5 ≥ 4) → 0*1000+5*16+0
    assert by_px[(5, 0)] == (80.0, 0)
    # pixel (5,2): items 0 (xi=2) and 1 (xi=0) both valid → first = item 0
    assert by_px[(5, 2)] == (82.0, 0)


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF with generous probes recovers most exact top-k pairs (and all
    plans stay equi-join shaped — no cartesian fallback)."""
    from pyspark.sql import functions as F
    from zen3geo_spark.operators.similarity import (
        cosine_topk_bruteforce, cosine_topk_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["target_id"])
             for r in cosine_topk_bruteforce(q, emb, k=3).collect()}
    approx = {(r["query_id"], r["target_id"])
              for r in cosine_topk_ivf(q, emb, k=3, n_lists=16, n_probe=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8
    plan = cosine_topk_ivf(q, emb, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ann_ivf_trained_centroids_recall_not_worse(spark):
    """Spherical-kmeans-trained centroids keep high recall at a modest
    n_probe and the training is deterministic (fixed seeds, fixed
    iteration count → identical codebook and results)."""
    from pyspark.sql import functions as F
    from zen3geo_spark.operators.similarity import (
        cosine_topk_bruteforce, cosine_topk_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["target_id"])
             for r in cosine_topk_bruteforce(q, emb, k=3).collect()}

    def run(train_iters):
        return {(r["query_id"], r["target_id"])
                for r in cosine_topk_ivf(q, emb, k=3, n_lists=16, n_probe=4,
                                         train_iters=train_iters).collect()}

    trained = run(2)
    recall = len(exact & trained) / len(exact)
    assert recall >= 0.8
    assert run(2) == trained  # deterministic training


def test_int8_quantization_golden(spark):
    """Floor semantics (toward −inf for negatives), clamping at ±extremes,
    and exact integer dots vs a NumPy recompute."""
    import numpy as np

    from zen3geo_spark.operators.similarity import int8_topk, quantize_int8

    df = spark.createDataFrame(
        [(0, [0.5, -0.5, 0.999, -0.999, 0.0, 0.001953125])],
        "vec_id long, embedding array<float>")
    q = df.select(quantize_int8(F.col("embedding")).alias("q")).head()["q"]
    # 0.5*256=128 clamps to 127; -0.5*256=-128 stays; floor(-255.744)=-256
    # clamps to -128; 0.001953125 = 2^-9 -> floor(0.5) = 0
    assert q == [127, -128, 127, -128, 0, 0]

    rng = np.random.RandomState(7)
    vecs = (rng.rand(40, 16).astype(np.float32) - 0.5)
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = {(r["query_id"], r["target_id"]): r["dot_q"]
           for r in int8_topk(queries, emb, k=40).collect()}
    qz = np.clip(np.floor(vecs.astype(np.float64) * 256), -128, 127
                 ).astype(np.int64)
    for qi in range(3):
        for ti in range(40):
            assert got[(qi, ti)] == int(qz[qi] @ qz[ti])


def test_int8_topk_agrees_with_float_bruteforce(spark):
    """Coarse-pass sanity: on unit-ish random vectors the int8 top-1 by
    dot equals the float top-1 by cosine for most queries (quantization
    at 1/256 resolution over 64 dims barely perturbs the ranking)."""
    import numpy as np

    from zen3geo_spark.operators.similarity import (
        cosine_topk_bruteforce, int8_topk,
    )

    rng = np.random.RandomState(3)
    vecs = rng.randn(60, 64).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs *= 0.4  # keep inside the no-clamp range, like the fixture table
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    i8 = {r["query_id"]: r["target_id"]
          for r in int8_topk(queries, emb, k=1).collect()}
    fl = {r["query_id"]: r["target_id"]
          for r in cosine_topk_bruteforce(queries, emb, k=1).collect()}
    agree = sum(i8[q] == fl[q] for q in i8)
    assert agree >= 7  # at most one boundary flip in 8


# ---------------------------------------------------------------------------
# bitext mining (late r5)
# ---------------------------------------------------------------------------

def test_bitext_mine_mutual_margin(spark):
    from zen3geo_spark.operators.similarity import bitext_mine

    # src 0 <-> tgt 10 mutual, well-separated (margin passes)
    # src 1's best (tgt 11) prefers src 2 back -> not mutual, dropped
    # src 3 is a hub: cos to tgt 13/14 nearly equal -> margin kills it
    src = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]),
         (1, [0.6, 0.8, 0.0, 0.0]),
         (2, [0.0, 1.0, 0.0, 0.0]),
         (3, [0.0, 0.0, 0.7, 0.7])],
        "vec_id long, embedding array<double>")
    tgt = spark.createDataFrame(
        [(10, [0.99, 0.1, 0.0, 0.0]),
         (11, [0.05, 1.0, 0.0, 0.0]),
         (13, [0.0, 0.0, 1.0, 0.0]),
         (14, [0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>")
    got = {(r["src_id"], r["tgt_id"])
           for r in bitext_mine(src, tgt, margin=1.05).collect()}
    assert (0, 10) in got
    assert (2, 11) in got          # mutual: 11's best back is 2
    assert not any(s == 1 for s, _ in got)   # lost tgt 11 to src 2
    assert not any(s == 3 for s, _ in got)   # hub killed by margin


def test_bitext_single_target_no_second(spark):
    from zen3geo_spark.operators.similarity import bitext_mine

    src = spark.createDataFrame([(0, [1.0, 0.0])],
                                "vec_id long, embedding array<double>")
    tgt = spark.createDataFrame([(10, [1.0, 0.1])],
                                "vec_id long, embedding array<double>")
    # one target: no second-best -> margin vacuously passes, mutual holds
    assert {(r["src_id"], r["tgt_id"]) for r in
            bitext_mine(src, tgt, margin=2.0).collect()} == {(0, 10)}


def test_semantic_dedup_keep_rule(spark):
    """Cluster-then-prune: the lower-id member of every within-cluster
    near-dup pair survives, cross-cluster near-dups are NOT pruned
    (that's the algorithm's documented recall trade), and vectors with
    no close lower-id neighbor stay."""
    from zen3geo_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # centroid A
        (1, [0.0, 1.0, 0.0, 0.0]),   # centroid B
        (2, [0.99, 0.1, 0.0, 0.0]),  # cluster A, near-dup of 0 → dropped
        (3, [0.0, 0.98, 0.15, 0.0]), # cluster B, near-dup of 1 → dropped
        (4, [0.6, 0.0, 0.8, 0.0]),   # cluster A, cos(4,0)=0.6 < 0.9 → kept
        (5, [0.0, 0.6, 0.0, 0.8]),   # cluster B, far from 1/3 → kept
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")
    kept = {r["vec_id"]: r["list_id"]
            for r in semantic_dedup(emb, n_lists=2, threshold=0.9).collect()}
    assert set(kept) == {0, 1, 4, 5}
    assert kept[0] == 0 and kept[4] == 0   # cluster A = centroid id 0
    assert kept[1] == 1 and kept[5] == 1


def test_semantic_dedup_drop_is_lower_id_anchored(spark):
    """Chain a~b, b~c with a!~c: the anti-chain rule drops BOTH b and c
    (each has a close lower-id neighbor) — pinned so the semantics are
    explicit, distinct from sequential-greedy which would keep c."""
    from zen3geo_spark.operators.similarity import semantic_dedup

    a = [1.0, 0.0, 0.0]
    b = [0.95, 0.3122, 0.0]   # cos(a,b)~0.95
    c = [0.81, 0.586, 0.0]    # cos(b,c)~0.95, cos(a,c)~0.81 < 0.9
    emb = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "vec_id long, embedding array<double>")
    kept = sorted(r["vec_id"] for r in
                  semantic_dedup(emb, n_lists=1, threshold=0.9).collect())
    assert kept == [0]


def test_kmv_intersect_small_sets_exact(spark):
    """With vocabularies smaller than k, the KMV sample IS the union —
    the Jaccard estimate must be exact."""
    from zen3geo_spark.functions.sketch import (
        kmv_intersect, kmv_intersect_sql_duckdb,
    )
    import duckdb
    a = spark.createDataFrame([("w1 w2 w3 w4",)], "text string")
    b = spark.createDataFrame([("w3 w4 w5 w6 w7 w8",)], "text string")
    row = kmv_intersect(a, b, k=256).collect()[0]
    assert row["k_used"] == 8 and row["n_both"] == 2
    assert row["jaccard_milli"] == 1000 * 2 // 8
    duck = duckdb.sql(kmv_intersect_sql_duckdb(
        "(select 'w1 w2 w3 w4' as text)",
        "(select 'w3 w4 w5 w6 w7 w8' as text)", k=256)).fetchall()[0]
    assert duck == (row["k_used"], row["n_both"], row["jaccard_milli"],
                    row["union_est"])


def test_pq_self_query_rank1_zero(spark):
    """ADC sanity anchor: each query ranks ITSELF first — its own
    codes minimize every per-subspace distance term, so ADC(q,q) (the
    quantization error) is the attainable minimum."""
    from zen3geo_spark.operators.similarity import pq_search_adc

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = pq_search_adc(emb, n_queries=2, top_k=3).collect()
    top = {r.qid: r.vec_id for r in out if r.rk == 1}
    assert top == {0: 0, 1: 1}
    # and every other hit is at >= the self (quantization-error) floor
    floor = {r.qid: r.adc_dist for r in out if r.rk == 1}
    for r in out:
        assert r.adc_dist >= floor[r.qid]


def test_pq_codes_cover_all_subspaces(spark):
    from zen3geo_spark.operators.similarity import pq_train_codes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    out = pq_train_codes(emb, m=4, dsub=16, k=8, rounds=1)
    rows = out.collect()
    assert len(rows) == n * 4
    assert {r.s for r in rows} == {0, 1, 2, 3}
    assert all(0 <= r.code < 8 for r in rows)
