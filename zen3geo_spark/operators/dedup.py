"""Deduplication suite for web-scale corpora.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
SimHash, KMV distinct counts and n-gram Jaccard — all over the
``documents`` table shape ``(doc_id, text, ...)``. Hashing uses a 40-bit
polynomial hash over unicode code points (h(s) = Σ code(s_i)·P^i mod M) —
chosen because it is BOTH NumPy-vectorizable (one fused pass over a padded
code-point matrix per Arrow batch, no per-shingle Python loop) and exactly
expressible in DuckDB SQL (``ord``/``substr`` list arithmetic with the
same precomputed power table), so every stage stays oracle-checkable
bit-for-bit. Each shingle kernel has ONE Spark path, the Arrow-batched
NumPy kernel (``minhash_table_pd``, ``simhash_table_pd``,
``kmv_distinct_shingles``, ...); the ``*_sql_duckdb`` expressions are its
oracles. MinHash signatures are per-seed affine permutations
``(a_j·h + b_j) mod (2^61-1)`` of the base hash (Broder's min-wise
permutation scheme — public construction); SimHash combines two
independent 40-bit hashes into a 60-bit gram hash for the majority-bit
vote.

Scale notes: every stage is a hash aggregate or equi-join on a derived
key — no cross products. Candidate generation for near-dup is strictly
band-bucket (LSH) or chunk-blocked (pigeonhole); verification joins only
within buckets.

localCheckpoint caveat (applies to every operator here that returns or
holds a ``localCheckpoint(eager=False)`` frame — minhash banding, n-gram
Jaccard, connected components — and to ``cosine_topk_ivf``): lineage is
TRUNCATED, so a lost executor / decommissioned node means the next action
fails fast with "Checkpoint block not found" instead of recomputing.
Under dynamic allocation or spot instances, either disable executor
decommission of storage-bearing nodes, or replace these call sites with
reliable ``checkpoint()`` to a cluster-visible directory (same semantics,
survives executor loss). Blocks free on GC of the wrapper; the iterative
paths additionally unpersist dead per-round blocks eagerly.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from zen3geo_spark.functions.text import fingerprint
from zen3geo_spark.operators._util import ensure_parallelism as _ensure_parallelism

# mirrors the RE2 \s (ASCII whitespace) of the DuckDB shingle split —
# Python's default \s is unicode-wide
_WS = re.compile(r"\s+", flags=re.ASCII)

# ---------------------------------------------------------------------------
# shared hash constants (every engine mirrors these EXACT values)
# ---------------------------------------------------------------------------

HASH_M = (1 << 40) - 87       # largest prime < 2^40: products code·P^i and
                              # a_j·h stay < 2^61 (int64-safe on every engine)
HASH_P1 = 1_000_003           # polynomial bases (odd primes)
HASH_P2 = 999_983
GRAM_CAP = 64                 # chars hashed per gram (both engines cap here)
# the affine minhash permutations (a_j·h + b_j) mod HASH_M are true
# permutations of Z_p (prime modulus, a_j ≠ 0) and WRAP for nearly every h
# — a modulus much larger than a_j·max(h) would be order-preserving, i.e.
# every signature position would pick the same min gram
MINHASH_PRIME = HASH_M

POWS1 = [pow(HASH_P1, i, HASH_M) for i in range(GRAM_CAP)]
POWS2 = [pow(HASH_P2, i, HASH_M) for i in range(GRAM_CAP)]
# int64 throughout the NumPy kernels, NOT uint64: every intermediate is
# < 2^61 by construction (code·P^i < 2^21·2^40, a_j·h < 2^20·2^40), and
# this host's numpy routes uint64 multiply/add through a ~200x-slower
# non-SIMD loop (measured: 2M-element uint64 mul 4.4 s vs int64 0.02 s)
_POWS1_NP = np.array(POWS1, dtype=np.int64)
_POWS2_NP = np.array(POWS2, dtype=np.int64)


def _perm_params(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic affine-permutation params a_j (odd, < 2^20 so that
    a·h < 2^60 stays in int64 on every engine) and b_j (< 2^20)."""
    a = np.array([((2 * j + 1) * 2654435761) % (1 << 20) | 1
                  for j in range(num_hashes)], dtype=np.int64)
    b = np.array([(j * 40503 + 12345) % (1 << 20)
                  for j in range(num_hashes)], dtype=np.int64)
    return a, b


def _poly_hash_batch(grams: list[str], pows: np.ndarray) -> np.ndarray:
    """Vectorized polynomial hash of a list of strings: pad code points
    into an (n, width) matrix, accumulate column-by-column mod HASH_M.
    The only Python-level loop is the per-string utf-32 encode."""
    n = len(grams)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    enc = [g[:GRAM_CAP].encode("utf-32-le") for g in grams]
    lens = np.fromiter((len(e) >> 2 for e in enc), dtype=np.int64, count=n)
    width = int(lens.max()) if n else 0
    if width == 0:
        return np.zeros(n, dtype=np.int64)
    M = np.zeros((n, width), dtype=np.int64)
    for i, e in enumerate(enc):
        if e:
            M[i, : lens[i]] = np.frombuffer(e, dtype=np.uint32)
    # transpose-copy so each accumulation step is scalar × CONTIGUOUS row:
    # this host's numpy runs strided/broadcast int64 loops ~200x slower
    # than contiguous scalar ops (no SIMD dispatch on 0-/column-strides)
    MT = np.ascontiguousarray(M.T)
    acc = np.zeros(n, dtype=np.int64)
    for i in range(width):
        acc += MT[i] * int(pows[i])
        acc %= HASH_M
    return acc


def _batch_grams(texts, shingle_n: int):
    """All shingles of an Arrow batch flattened + per-doc offsets + a
    unique-gram index (shingle vocabularies repeat heavily across docs, so
    hash each distinct gram once per batch)."""
    all_idx: list[int] = []
    offsets: list[int] = [0]
    uniq: dict[str, int] = {}
    for t in texts:
        if not isinstance(t, str):  # null text rides as None/NaN in Arrow
            t = ""
        for g in _shingle_list(t, shingle_n):
            j = uniq.get(g)
            if j is None:
                j = len(uniq)
                uniq[g] = j
            all_idx.append(j)
        offsets.append(len(all_idx))
    return list(uniq), np.asarray(all_idx, dtype=np.int64), np.asarray(offsets[:-1], dtype=np.int64)


def shingle_table_pd(docs: DataFrame, shingle_n: int) -> DataFrame:
    """(_vid, _vsh) = (doc_id, shingle array of text) via the Arrow
    kernel (``_shingle_list`` per row; ``shingles_sql_duckdb`` is its
    oracle). A JVM Column form (transform/slice/array_join/array_distinct
    HOF lambdas) runs in the expression interpreter at ~30 µs per gram
    (measured 8.3 s warm for a 5 k-doc / 256 k-gram corpus vs 0.3 s here)."""

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame({
                "_vid": pdf["doc_id"].to_numpy(),
                "_vsh": [_shingle_list(t if isinstance(t, str) else "", shingle_n)
                         for t in pdf["text"]],
            })

    return _ensure_parallelism(docs).select("doc_id", "text").mapInPandas(
        run, schema="_vid long, _vsh array<string>")


def exploded_shingles_pd(docs: DataFrame, shingle_n: int) -> DataFrame:
    """(doc, n_sh, sh) one-row-per-distinct-gram table via the Arrow
    kernel — the exploded twin of ``shingle_table_pd`` for blocking
    joins; n_sh is the doc's distinct-gram count."""

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            uniq, idx, starts = _batch_grams(pdf["text"], shingle_n)
            n_per = np.diff(np.append(starts, len(idx)))
            un = np.asarray(uniq, dtype=object)
            yield pd.DataFrame({
                "doc": np.repeat(pdf["doc_id"].to_numpy(), n_per),
                "n_sh": np.repeat(n_per, n_per),
                "sh": un[idx] if len(idx) else np.asarray([], dtype=object),
            })

    return _ensure_parallelism(docs).select("doc_id", "text").mapInPandas(
        run, schema="doc long, n_sh int, sh string")


def hash40_sql_duckdb(g: str, which: int = 1) -> str:
    """DuckDB expression computing the exact ``_poly_hash_batch`` value for
    a varchar expression ``g``: Σ ord(char_i)·P^(i-1) mod M over the first
    GRAM_CAP characters (empty string → 0)."""
    pows = POWS1 if which == 1 else POWS2
    pows_lit = "[" + ", ".join(str(p) for p in pows) + "]"
    return (
        f"cast(coalesce(list_sum(list_transform("
        f"generate_series(1, least(length({g}), {GRAM_CAP})), "
        f"i -> (ord(substr({g}, i, 1)) * ({pows_lit})[i]) % {HASH_M})), 0) "
        f"% {HASH_M} as bigint)"
    )


def gram_hash60_sql_duckdb(g: str) -> str:
    """DuckDB expression for the 60-bit SimHash gram hash:
    h1 + (h2 mod 2^20)·2^40 (two independent 40-bit polynomials)."""
    h1 = hash40_sql_duckdb(g, 1)
    h2 = hash40_sql_duckdb(g, 2)
    return f"({h1} + ({h2} % {1 << 20}) * {1 << 40})"


def _shingle_list(text: str, n: int) -> list[str]:
    """The shingle kernel: distinct word n-grams of the lowercased text,
    split on ASCII whitespace. Identical to ``shingles_sql_duckdb``
    including the short-text edge (one gram = the whole word list; empty
    text → one '' gram).

    >>> _shingle_list("The quick brown fox", 2)
    ['the quick', 'quick brown', 'brown fox']
    >>> _shingle_list("a b a b", 2)          # distinct grams only
    ['a b', 'b a']
    >>> _shingle_list("hi", 3)               # short text: one whole gram
    ['hi']
    >>> _shingle_list("", 2)
    ['']
    """
    words = _WS.split(text.strip().lower())
    k = max(len(words) - n, 0) + 1
    return list(dict.fromkeys(" ".join(words[j:j + n]) for j in range(k)))


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Keep the lowest-id representative per identical normalized text.

    One hash aggregate; at 100 TB this is the cheapest dedup pass and runs
    first to shrink everything downstream.
    """
    return (
        docs.withColumn("fp", fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def gram_hash40(s: Column, which: int = 1) -> Column:
    """Spark Column form of ``_poly_hash_batch`` for one string expression:
    Σ ascii(char_i)·P^(i-1) mod M over the first GRAM_CAP chars. The JVM
    key hash: ``sketch``, ``web``, ``linkgraph`` and the driver queries
    hash keys with it inside a plan. Its HOF lambdas run interpreted, so
    the shingle kernels here hash with the vectorized NumPy kernel instead
    (value-identical, pytest).

    Unicode contract: Spark 4's ``split('')``/``ascii`` operate on code
    POINTS (not UTF-16 units), so this path agrees with the NumPy kernel
    and DuckDB ``ord`` even for non-BMP characters —
    tests/test_text_ops.py::test_hash_parity_non_bmp_all_three_paths
    asserts the three-way parity on astral-plane input."""
    pows = POWS1 if which == 1 else POWS2
    capped = F.substring(s, 1, GRAM_CAP)
    chars = F.split(capped, "")
    pows_arr = F.array(*[F.lit(p) for p in pows])
    terms = F.zip_with(
        chars, pows_arr,
        lambda c, p: F.when(c.isNull() | (c == ""), F.lit(0).cast("long"))
        .otherwise(F.pmod(F.ascii(c).cast("long") * p, F.lit(HASH_M))),
    )
    return F.pmod(
        F.aggregate(terms, F.lit(0).cast("long"), lambda a, v: a + v),
        F.lit(HASH_M),
    )


def _permute_min(h: np.ndarray, starts: np.ndarray,
                 a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(k, n_docs) per-doc minima of the affine permutations of ``h`` —
    one scalar-×-contiguous pass per permutation (broadcast int64 loops
    are the slow path on this host, see the int64 note above)."""
    k = len(a)
    vals = np.empty((k, len(h)), dtype=np.int64)
    for j in range(k):
        np.multiply(h, int(a[j]), out=vals[j])
        vals[j] += int(b[j])
        vals[j] %= MINHASH_PRIME
    return np.minimum.reduceat(vals, starts, axis=1)


def minhash_table_pd(docs: DataFrame, num_hashes: int = 16,
                     shingle_n: int = 3) -> DataFrame:
    """(doc, sig) signature table via ``mapInPandas`` — a plan-node
    materialization barrier. A ``pandas_udf`` column gets inlined by
    CollapseProject into every downstream band expression (measured 4-8
    ArrowEvalPython nodes per LSH plan = 4-8 full kernel evaluations);
    MapInPandas is a physical node, so the kernel runs exactly once per
    join side. One fused NumPy pass per Arrow batch: distinct grams hashed
    once, per-doc minima via ``minimum.reduceat``. The engine's one minhash
    path: batch banding (``banded_buckets``) and the stream
    (``streaming.stateful.streaming_lsh_candidates``) both run it.
    Value-identical to the DuckDB oracle ``minhash_signature_sql_duckdb``
    (parity-tested)."""
    a, b = _perm_params(num_hashes)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            uniq, idx, starts = _batch_grams(pdf["text"], shingle_n)
            h = _poly_hash_batch(uniq, _POWS1_NP)[idx]
            mins = _permute_min(h, starts, a, b)
            yield pd.DataFrame({
                "doc": pdf["doc_id"].to_numpy(),
                "sig": [r.tolist() for r in mins.T],
            })

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc long, sig array<long>")


def simhash_table_pd(docs: DataFrame, shingle_n: int = 2) -> DataFrame:
    """(doc, sh) 60-bit SimHash table via ``mapInPandas`` (single-evaluation
    barrier — see ``minhash_table_pd``): bit b is set when the majority of
    the doc's shingles have bit b set in their 60-bit gram hash
    h1 + (h2 mod 2^20)·2^40. Value-identical to the DuckDB oracle
    ``simhash64_sql_duckdb`` (parity-tested)."""
    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            uniq, idx, starts = _batch_grams(pdf["text"], shingle_n)
            h1 = _poly_hash_batch(uniq, _POWS1_NP)
            h2 = _poly_hash_batch(uniq, _POWS2_NP)
            h = (h1 + (h2 % (1 << 20)) * (1 << 40))[idx]
            yield pd.DataFrame({
                "doc": pdf["doc_id"].to_numpy(),
                "sh": _simhash_majority(h, starts),
            })

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc long, sh long")


def _simhash_majority(h: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Per-doc 60-bit majority vote over gram hashes ``h`` segmented by
    ``starts`` — one scalar-shift contiguous pass per bit (broadcast
    int64 loops are the slow path on this host; see the int64 note)."""
    n_grams = np.diff(np.append(starts, len(h)))
    out = np.zeros(len(starts), dtype=np.int64)
    scratch = np.empty(len(h), dtype=np.int64)
    for b in range(60):
        np.right_shift(h, b, out=scratch)
        scratch &= 1
        ones = np.add.reduceat(scratch, starts) if len(h) else scratch[:0]
        out |= (ones * 2 > n_grams).astype(np.int64) << b
    return out


def winnow_fingerprints_pd(k: int = 8, w: int = 4):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    public algorithm): polynomial-hash all character k-grams of the
    whitespace-normalized lowercased text, slide a w-window over the hash
    sequence, keep each window's minimum; the distinct sorted minima are
    the document's fingerprint set. Guarantees any shared substring of
    length >= k + w - 1 yields a shared fingerprint. The k-gram hashes are
    a true vectorized rolling pass: ``sliding_window_view`` over the
    code-point array × the power table — zero per-gram Python.
    Value-identical to ``winnow_fingerprints_sql_duckdb``."""
    pk = _POWS1_NP[:k]
    M = np.int64(HASH_M)

    @F.pandas_udf(ArrayType(LongType()))
    def fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not isinstance(t, str):
                t = ""
            norm = _WS.sub(" ", t.strip()).lower()
            codes = np.frombuffer(
                norm.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            if len(codes) <= k:
                acc = np.int64(0)
                for j in range(len(codes)):
                    acc = (acc + codes[j] * pk[j]) % M
                hs = np.array([acc], dtype=np.int64)
            else:
                W = np.lib.stride_tricks.sliding_window_view(codes, k)
                acc = np.zeros(len(W), dtype=np.int64)
                for j in range(k):
                    acc = (acc + W[:, j] * pk[j]) % M
                hs = acc
            if len(hs) <= w:
                mins = np.array([hs.min()])
            else:
                mins = np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
            out.append(np.unique(mins).astype(np.int64).tolist())
        return pd.Series(out)

    return fp


def winnow_fingerprints_sql_duckdb(rel: str, id_col: str, col: str,
                                   k: int = 8, w: int = 4) -> str:
    """DuckDB query mirroring ``winnow_fingerprints_pd``: yields
    (id_col, fp) rows. Staged CTEs — inlining the list expressions into
    one expression would re-evaluate the whole hash list per window
    element (no CSE across lambda references), which is O(n^2) hashes."""
    pows_lit = "[" + ", ".join(str(p) for p in POWS1[:k]) + "]"
    return f"""
    with _n as (
      select {id_col}, lower(regexp_replace(trim({col}), '\\s+', ' ', 'g')) as norm
      from {rel}
    ),
    _h as (
      select {id_col},
             list_transform(generate_series(1, greatest(length(norm) - {k}, 0) + 1),
                i -> cast(coalesce(list_sum(list_transform(
                       generate_series(1, least(length(norm) - i + 1, {k})),
                       j -> (ord(substr(norm, i + j - 1, 1)) * ({pows_lit})[j]) % {HASH_M})), 0)
                     % {HASH_M} as bigint)) as hs
      from _n
    ),
    _w as (
      select {id_col},
             list_transform(generate_series(1, greatest(len(hs) - {w}, 0) + 1),
                            j -> list_min(hs[j : j + {w - 1}])) as wins
      from _h
    )
    select {id_col}, unnest(list_sort(list_distinct(wins))) as fp from _w
    """


def banded_buckets(docs: DataFrame, num_hashes: int = 16,
                   bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """(doc, band, bucket): one LSH band-bucket row per document per band
    (bucket = md5 of that band's signature slice). The shared candidate
    generator for the self-join (``minhash_lsh_candidates``) and the
    cross-snapshot probe (``incremental_neardup_flags``).

    localCheckpoint-ed because every caller references this table at
    least twice (both sides of a self-join, or probe + audit): the
    signature kernel — the dominant CPU cost — must evaluate once, and
    the plan tree is cut at the stage boundary so references don't
    multiply the MapInPandas subtree into the physical plan; blocks are
    GC-freed instead of leaking in the CacheManager.
    """
    d = minhash_table_pd(_ensure_parallelism(docs), num_hashes=num_hashes,
                         shingle_n=shingle_n)
    return band_rows(d, num_hashes, bands).localCheckpoint(eager=False)


def band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, bucket) from a (doc, sig) minhash table: one row per
    document per band, bucket = md5 of that band's signature slice. The
    batch (``banded_buckets``) and stream
    (``streaming.stateful.streaming_lsh_candidates``) candidate
    generators band alike, so their buckets match."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ), "|"
                    )).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def minhash_lsh_candidates(docs: DataFrame, num_hashes: int = 16,
                           bands: int = 4, shingle_n: int = 3,
                           max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the minhash signature.

    rows_per_band = num_hashes / bands. Output: (a_id, b_id) with a < b,
    distinct. The band bucket join is an equi-join on the band hash —
    shuffle keyed by bucket, never all-pairs.

    ``max_bucket`` is the explicit skew guard for the self-join: a bucket
    with B members produces B² pre-distinct pair rows, so one
    pathological bucket (boilerplate pages, empty docs) can dominate the
    whole job. Buckets larger than ``max_bucket`` are DROPPED before the
    join (one extra aggregate on the banded table) — a band shared by
    that many documents is non-discriminative, and true near-dups in it
    still surface through their other bands or the verify stage. Default
    None keeps exact all-bucket semantics (the oracle's).
    """
    banded = banded_buckets(docs, num_hashes=num_hashes, bands=bands,
                            shingle_n=shingle_n)
    if max_bucket is not None:
        ok = (banded.groupBy("band", "bucket")
              .agg(F.count("*").alias("_n"))
              .filter(F.col("_n") <= max_bucket)
              .select("band", "bucket"))
        banded = banded.join(ok, ["band", "bucket"])
    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .filter(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("a_id"), F.col("r.doc").alias("b_id"))
        .distinct()
    )
    return pairs


def incremental_neardup_flags(old_docs: DataFrame, new_docs: DataFrame,
                              num_hashes: int = 16,
                              bands: int = 4,
                              shingle_n: int = 3) -> DataFrame:
    """Cross-snapshot near-dup screen: flag every NEW-snapshot document
    that shares any LSH band-bucket with any OLD-snapshot document — the
    incremental dedup pass a recurring crawl pipeline runs so each new
    snapshot is deduplicated against the corpus already ingested,
    without ever re-pairing the old corpus with itself.

    Returns ``(id, collided: int)`` for every new document (1 = has an
    old-corpus candidate; feed collided docs to the exact-verify stage,
    keep the rest).

    Scale shape: both sides reduce to band-bucket tables (bands × docs
    rows); the probe is a left-semi equi-join of the NEW side against
    the distinct OLD buckets — old-corpus pairs are never generated, so
    the cost is linear in the new snapshot plus one distinct over old
    buckets (at 10^12 old docs, that distinct is the band-bucket
    universe, amortizable as a maintained table across snapshots).
    """
    old_b = banded_buckets(old_docs, num_hashes=num_hashes, bands=bands,
                           shingle_n=shingle_n)
    new_b = banded_buckets(new_docs, num_hashes=num_hashes, bands=bands,
                           shingle_n=shingle_n)
    hit = (new_b
           .join(old_b.select("band", "bucket").distinct(),
                 ["band", "bucket"], "left_semi")
           .select("doc").distinct()
           .withColumn("_hit", F.lit(1)))
    return (new_docs.select(F.col("doc_id"))
            .join(hit, new_docs["doc_id"] == hit["doc"], "left")
            .select(F.col("doc_id"),
                    F.coalesce(F.col("_hit"), F.lit(0)).alias("collided")))


def ngram_jaccard(docs: DataFrame, shingle_n: int = 3, threshold: float = 0.8,
                  max_df_frac: float | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity over candidate pairs.

    Blocked by shared shingle to avoid all-pairs: explode shingles →
    self-join on shingle → per-pair intersection count / union. Returns
    pairs with jaccard >= threshold.

    ``max_df_frac`` enables the document-frequency prefilter that makes
    the blocking survive skew: shingles present in more than that fraction
    of documents are dropped as BLOCKING keys (the standard stop-token
    trick — a token shared by half the corpus would generate a quadratic
    candidate set), and candidate pairs are then verified with the exact
    set-intersection Jaccard over their FULL shingle sets (values
    unchanged; only discoverability requires sharing one sub-threshold-df
    shingle). The df threshold is computed in-plan (one aggregate joined
    against the corpus count) — no driver action.
    """
    # localCheckpoint: the exploded-shingle table feeds both sides of a
    # self-join (and on the df-filtered path also the df aggregate) —
    # evaluate the shingle kernel ONCE, and cut the plan tree so the
    # references don't multiply the kernel subtree into the physical plan
    # (as a plain persist does: execution deduped, plan still quadratic —
    # a 10^12-row audit showed 227 shuffle nodes from exactly that)
    sh = exploded_shingles_pd(docs, shingle_n).localCheckpoint(eager=False)
    if max_df_frac is not None:
        total = docs.agg(F.count("*").alias("_n_docs"))
        # shingles are distinct per doc, so count(*) IS document frequency
        from zen3geo_spark.operators._util import pair_all
        rare = (
            pair_all(sh.groupBy("sh").agg(F.count("*").alias("_df")), total)
            .filter(F.col("_df") <= F.col("_n_docs") * F.lit(max_df_frac))
            .select("sh")
        )
        blocked = (sh.select("doc", "sh").join(rare, "sh")
                   .localCheckpoint(eager=False))
        cand = (
            blocked.alias("l").join(blocked.alias("r"), "sh")
            .filter(F.col("l.doc") < F.col("r.doc"))
            .select(F.col("l.doc").alias("a_id"), F.col("r.doc").alias("b_id"))
            .distinct()
        )
        return verify_jaccard_pairs(cand, docs, shingle_n=shingle_n,
                                    threshold=threshold)
    inter = (
        sh.alias("l").join(sh.alias("r"), "sh")
        .filter(F.col("l.doc") < F.col("r.doc"))
        .groupBy(F.col("l.doc").alias("a_id"), F.col("r.doc").alias("b_id"),
                 F.col("l.n_sh").alias("n_a"), F.col("r.n_sh").alias("n_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return inter.select(
        "a_id", "b_id",
        (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def shingles_sql_duckdb(col: str, n: int) -> str:
    """DuckDB expression mirroring ``_shingle_list``: distinct word n-grams.

    The kernel takes words[j:j+n] for j in 0..max(len-n, 0); here i in
    1..greatest(len-n, 0)+1 with the inclusive slice words[i : i+n-1] —
    identical gram sets, including the short-text case (one gram = the
    whole word list)."""
    words = f"regexp_split_to_array(lower(trim({col})), '\\s+')"
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({words}) - {n}, 0) + 1), "
        f"i -> array_to_string(({words})[i:i+{n - 1}], ' ')))"
    )


def gram_hashes40_sql_duckdb(grams: str) -> str:
    """DuckDB expression hashing a grams-list expression to the 40-bit
    polynomial hashes (stage this in a CTE so each gram hashes once)."""
    return f"list_transform({grams}, g -> {hash40_sql_duckdb('g', 1)})"


def minhash_signature_sql_duckdb(hs: str, num_hashes: int) -> str:
    """DuckDB expression mirroring ``minhash_table_pd`` over an
    already-hashed bigint list expression ``hs``: per-seed min of the
    affine permutations (a_j·h + b_j mod 2^61-1)."""
    a, b = _perm_params(num_hashes)
    sigs = ", ".join(
        f"list_min(list_transform({hs}, h -> "
        f"(h * {int(a[j])} + {int(b[j])}) % {MINHASH_PRIME}))"
        for j in range(num_hashes)
    )
    return f"[{sigs}]"


def simhash64_sql_duckdb(hs: str, n: str) -> str:
    """DuckDB expression mirroring ``simhash_table_pd`` given ``hs`` (list
    of 60-bit ``gram_hash60_sql_duckdb`` shingle hashes) and ``n`` (shingle
    count): bit b set when the majority of shingle hashes have bit b set,
    tested as (v % 2^(b+1)) >= 2^b."""
    terms = []
    for b in range(60):
        lo, hi = 1 << b, 1 << (b + 1)
        terms.append(
            f"(case when 2 * len(list_filter({hs}, v -> (v % {hi}) >= {lo})) > {n} "
            f"then {1 << b} else 0 end)"
        )
    return "(" + " + ".join(terms) + ")"


def verify_jaccard_pairs(cand: DataFrame, docs: DataFrame,
                         shingle_n: int = 2, threshold: float | None = None,
                         cut_lineage: bool = True) -> DataFrame:
    """Exact n-gram Jaccard over CANDIDATE pairs (a_id, b_id) — the
    verify stage after LSH blocking — fully in the JVM.

    The relational alternative (explode shingles, equi-join on shingle,
    group per pair) multiplies every candidate pair by its shingle count
    before aggregating; for verification the pair list is already small,
    so join per-doc shingle ARRAYS (computed once per doc by the Arrow
    kernel, not re-split per pair) and compute
    ``size(array_intersect(a, b))`` per pair.  The arrays are
    DISTINCT-per-doc by construction (``_shingle_list`` dedups), so the
    intersect size IS the set-intersection cardinality and
    ``inter / (|a| + |b| - inter)`` is the exact Jaccard — evaluated by
    whole-stage codegen, zero Python in the per-pair hot path (an earlier
    revision ran a per-pair ``frozenset`` loop in ``mapInPandas``;
    interpreted-Python per candidate never beats codegen at scale).

    The RAW docs table is first SEMI-JOINED against the candidate ids —
    the candidate set is small post-LSH, so only candidate docs are ever
    shingled (the kernel's work scales with the candidate set, not the
    corpus); Catalyst/AQE then picks broadcast from stats when it fits
    (no explicit hint — a corpus-wide ``F.broadcast`` here would be a
    driver OOM by construction at scale).
    """
    # the candidate plan is referenced three times below (both sides of
    # the id union + the verify join): localCheckpoint evaluates the
    # upstream candidate pipeline (LSH signatures included) ONCE, caches
    # the result (candidates are two longs per row, post-LSH small by
    # construction), and — unlike persist(), whose CacheManager entry is
    # never GC-freed — cuts the plan tree so downstream references don't
    # multiply the whole LSH subtree into the physical plan.
    # cut_lineage=False keeps the full tree (plan-shape tests inspect the
    # semi-join; resumable callers may prefer recomputable lineage)
    if cut_lineage:
        cand = cand.localCheckpoint(eager=False)
    ids = (cand.select(F.col("a_id").alias("_vid"))
           .unionByName(cand.select(F.col("b_id").alias("_vid")))
           .distinct())
    # broadcast the ID LIST (two longs per candidate — small by the LSH
    # invariant; nothing corpus-sized): the semi-join prunes the RAW docs
    # scan in place with zero shuffle, BEFORE the shingle kernel runs, so
    # shingling cost scales with |candidates| not |corpus|. An
    # un-broadcast semi would sort-merge-shuffle the whole corpus's text.
    cand_docs = docs.join(
        F.broadcast(ids.withColumnRenamed("_vid", "doc_id")), "doc_id", "left_semi")
    # candidate-sized (feeds both the a-side and b-side joins)
    d = shingle_table_pd(cand_docs, shingle_n)
    if cut_lineage:
        d = d.localCheckpoint(eager=False)
    joined = (
        cand.join(d.withColumnRenamed("_vid", "a_id")
                  .withColumnRenamed("_vsh", "_sa"), "a_id")
        .join(d.withColumnRenamed("_vid", "b_id")
              .withColumnRenamed("_vsh", "_sb"), "b_id")
    )
    # named intermediate so the (non-cheap) intersect is computed once —
    # CollapseProject refuses to re-inline a non-cheap alias referenced
    # twice (SPARK-36718), same trick as with_zorder's chained projection
    out = (joined
           .withColumn("_ni", F.size(F.array_intersect("_sa", "_sb")))
           .select("a_id", "b_id",
                   (F.col("_ni") / (F.size("_sa") + F.size("_sb")
                                    - F.col("_ni"))).alias("jaccard")))
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def _local_cc_labels(sym: DataFrame) -> DataFrame:
    """Partition-local union-find over the edge list: each task runs
    path-compressed union-find on ITS partition's edges alone and emits
    (node, label) with label = min node id of the node's local component.
    Correct for any edge partitioning (the global iteration afterwards
    merges across partitions); partitioning by ``u`` co-locates each
    node's edge star so most structure collapses in this single pass."""

    def run(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                u, v = int(u), int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by min id keeps labels = min of component
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
        if parent:
            nodes = np.fromiter(parent.keys(), dtype=np.int64, count=len(parent))
            labels = np.fromiter((find(n) for n in parent), dtype=np.int64,
                                 count=len(parent))
            yield pd.DataFrame({"node": nodes, "label": labels})

    return sym.mapInPandas(run, schema="node long, label long")


def connected_components(edges: DataFrame, nodes: DataFrame | None = None,
                         max_iters: int = 25) -> DataFrame:
    """Connected components over an undirected edge list — the clustering
    step that turns near-dup PAIRS into dedup GROUPS (keep min-id per
    component, drop the rest). Two-level scheme (the MapReduce-CC
    contraction idea of Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014 — public algorithm):

    * **local contraction first**: one partition-local union-find pass
      (``_local_cc_labels``) labels every node with the min id of its
      LOCAL component; original edges then contract to
      (label(u), label(v)) ≠ self-loops, distinct. One shuffle total,
      and the iterated graph shrinks from |nodes| to |cross-partition
      components| — on near-dup graphs (dense clusters, few bridges)
      that is orders of magnitude. Correctness does not depend on the
      partitioning: any original path maps to a contracted path.
    * **then iterative min-label propagation with pointer jumping** on
      the contracted graph: label(v) ← min over neighbors, then
      label(v) ← label(label(v)) (path halving) — O(log diameter)
      rounds of one equi-join + hash aggregate each, where every round
      now shuffles the contracted table, not the full node set;
    * a driver-side changed-count per round stops at the fixpoint — the
      loop length depends on cluster shape, never on table size;
    * each round's labels are ``localCheckpoint``-ed, which both caches
      the blocks AND TRUNCATES THE LOGICAL PLAN — without truncation the
      plan tree compounds across rounds (measured ~6,900 shuffle nodes
      after convergence at sf0.1), blowing up Catalyst planning time and
      task-binary size at scale even though the data itself was cached;
    * final labels compose: component(node) = comp(local_label(node)).

    ``nodes`` (optional, one ``node`` column) adds isolated vertices
    as their own singleton components. Returns (node, component) with
    component = min node id reachable — deterministic, so oracle-checkable
    against a recursive-CTE reachability query. Warns (loudly) if the
    fixpoint is not reached within ``max_iters`` — the result would be
    silently wrong otherwise.
    """
    import warnings

    # checkpoint the symmetric edge list: the local pass, the contraction
    # AND the final composition all read it (or tables derived from it) —
    # localCheckpoint both caches and cuts lineage, so none of those
    # consumers can recompute the whole upstream candidate pipeline
    # (signature UDFs included), even after this function returns
    sym = edges.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")).union(
        edges.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
    ).localCheckpoint(eager=False)
    verts = sym.select(F.col("u").alias("node")).distinct()
    # local union-find labels (one label per (partition, node) — groupBy
    # min canonicalizes nodes straddling partitions; connectivity between
    # a node's several local labels is preserved because every original
    # edge contracts through the canonical labels below)
    base = (_local_cc_labels(sym.repartition(F.col("u")))
            .groupBy("node").agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False))
    # contracted edge list
    lu = base.withColumnRenamed("node", "u").withColumnRenamed("label", "_lu")
    lv = base.withColumnRenamed("node", "v").withColumnRenamed("label", "_lv")
    csym = (sym.join(lu, "u").join(lv, "v")
            .filter(F.col("_lu") != F.col("_lv"))
            .select(F.col("_lu").alias("u"), F.col("_lv").alias("v"))
            .distinct().localCheckpoint(eager=False))
    singletons = None
    if nodes is not None:
        singletons = (nodes.select(F.col("node")).distinct()
                      .join(verts, "node", "left_anti")
                      .select("node", F.col("node").alias("component")))
    labels = (csym.select("u").union(csym.select("v"))
              .select(F.col("u").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    converged = False
    # eager cleanup of dead rounds: once round N+1's checkpoint is
    # materialized (the changed-count job), round N's blocks are
    # unreachable from any live plan — free them instead of waiting for
    # GC, so a long driver session doesn't hold O(rounds) dead block sets
    # in executor storage memory. Ids are diffed around this loop's own
    # single checkpoint materialization, never swept globally.
    sc = edges.sparkSession.sparkContext
    prev_round_ids: set[int] = set()
    for _ in range(max_iters):
        ids_before = set(sc._jsc.getPersistentRDDs().keys())
        nbr = (csym.join(labels.withColumnRenamed("node", "v"), "v")
               .groupBy("u").agg(F.min("label").alias("nbr_min")))
        stepped = (labels.join(nbr.withColumnRenamed("u", "node"), "node", "left")
                   .select("node", F.col("label").alias("_old"),
                           F.least(F.col("label"),
                                   F.coalesce("nbr_min", "label")).alias("label")))
        # pointer jumping: label <- label(label)
        lj = labels.select(F.col("node").alias("_ln"), F.col("label").alias("_ll"))
        jumped = (stepped.join(lj, stepped["label"] == lj["_ln"], "left")
                  .select("node", "_old",
                          F.least("label", F.coalesce("_ll", "label")).alias("label"))
                  # lazy localCheckpoint: the changed-count below is the
                  # round's single job — it computes, caches, AND cuts
                  # lineage, so round N+1's plan starts from a leaf
                  ).localCheckpoint(eager=False)
        changed = jumped.filter(F.col("label") < F.col("_old")).count()
        jmap = sc._jsc.getPersistentRDDs()
        this_round_ids = set(jmap.keys()) - ids_before
        for rid in prev_round_ids:
            if rid in jmap:
                jmap[rid].unpersist()
        prev_round_ids = this_round_ids
        labels = jumped.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components did not converge within {max_iters} "
            "iterations — labels may be non-minimal; raise max_iters",
            RuntimeWarning, stacklevel=2)
    # (csym is localCheckpointed — its blocks free on GC, and every
    # round's plan referenced a leaf RDD scan, not the contraction tree)
    # compose: component(node) = comp(local_label(node)); nodes whose
    # local component never straddled partitions keep their local label
    comp = labels.select(F.col("node").alias("_cn"),
                         F.col("label").alias("_comp"))
    out = (base.join(comp, base["label"] == comp["_cn"], "left")
           .select("node",
                   F.coalesce("_comp", "label").alias("component")))
    if singletons is not None:
        out = out.unionByName(singletons)
    return out


def components_sql_duckdb(edges_sql: str, nodes_sql: str,
                          prelude_ctes: str = "") -> str:
    """DuckDB recursive-CTE oracle for :func:`connected_components`:
    component = min reachable node (full reachability closure — fine at
    oracle scale where clusters are small). ``edges_sql`` must yield
    (u, v) SYMMETRIC pairs, ``nodes_sql`` (node). ``prelude_ctes`` are
    extra CTE definitions ("name as (...), ...") injected FLAT into the
    recursive WITH list — DuckDB does not resolve nested-WITH names from
    a compound select inside WITH RECURSIVE."""
    pre = f"{prelude_ctes}," if prelude_ctes.strip() else ""
    return f"""
    with recursive
    {pre}
    _e as ({edges_sql}),
    _n as ({nodes_sql}),
    reach(a, b) as (
      select node, node from _n
      union
      select r.a, e.v from reach r join _e e on e.u = r.b
    )
    select a as node, min(b) as component from reach group by a
    """


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3,
                      shingle_n: int = 2) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit chunks (a pair within
    hamming distance 3 shares at least one of 4 chunks — pigeonhole), then
    verify exact hamming distance. Equi-join on chunk, never all-pairs."""
    d = simhash_table_pd(_ensure_parallelism(docs), shingle_n=shingle_n)
    chunks = d.select(
        "doc", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftright("sh", c * 15).bitwiseAND(F.lit((1 << 15) - 1)).alias("key"))
            for c in range(4)
        ])).alias("ck"),
    ).select("doc", "sh", "ck.chunk", "ck.key").localCheckpoint(eager=False)
    # ^ localCheckpoint: both self-join sides read the cached chunk table,
    # so the simhash signature kernel runs once per query instead of
    # twice — with the plan tree cut and blocks GC-freed (persist leaks)
    cand = (
        chunks.alias("l").join(chunks.alias("r"), ["chunk", "key"])
        .filter(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("a_id"), F.col("r.doc").alias("b_id"),
                F.col("l.sh").alias("sh_a"), F.col("r.sh").alias("sh_b"))
        .distinct()
    )
    return cand.select(
        "a_id", "b_id",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


KMV_SALT_PARTS = 32   # phase-1 fan-out of the per-key k-minimum cut


def _kmv_estimate(h: DataFrame, k: int) -> DataFrame:
    """KMV tail over a (key, h) table: salted two-phase top-k →
    estimator. A sketch has FEW keys by construction (it summarizes per
    key), so a straight per-key window would funnel each key's whole
    distinct-hash set through one task at corpus scale. Phase 1 ranks
    within (key, hash mod KMV_SALT_PARTS) — KMV_SALT_PARTS-way parallel,
    each partition keeps <= k; phase 2 ranks the surviving <= parts·k
    rows per key (bounded, trivially one task). The global k smallest
    are a subset of the per-salt k smallest, so the result is
    value-identical to the unsalted window (and the oracle)."""
    from pyspark.sql import Window

    w1 = Window.partitionBy("key", "_salt").orderBy(F.col("h").asc())
    cand = (h.withColumn("_salt", F.pmod(F.col("h"), F.lit(KMV_SALT_PARTS)))
            .withColumn("_rk", F.row_number().over(w1))
            .filter(F.col("_rk") <= k).drop("_salt", "_rk"))
    w2 = Window.partitionBy("key").orderBy(F.col("h").asc())
    topk = cand.withColumn("_rk", F.row_number().over(w2)).filter(F.col("_rk") <= k)
    return topk.groupBy("key").agg(
        F.count("*").alias("n_kept"),
        F.max("h").alias("kth_min"),
    ).select(
        "key", "n_kept",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise((F.lit(float(k - 1)) /
                    (F.col("kth_min").cast("double") / F.lit(float(HASH_M)))))
        .alias("est_distinct"),
    )


def kmv_distinct_shingles(docs: DataFrame, key_col: str, text_col: str,
                          shingle_n: int, k: int = 64) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. — public
    construction) per key over word-shingle vocabularies: keep the k
    smallest distinct gram hashes, estimate |distinct| ≈ (k−1) /
    (max_kept / HASH_M) when ≥ k exist (else the exact count).
    Deterministic, unlike HLL, so the sketch itself is oracle-checkable
    bit-for-bit (``kmv_distinct_sql_duckdb``). Shingling, hashing AND
    per-batch (key, hash) dedup run in one Arrow kernel, so no shingle
    string ever hits a shuffle. With ``shingle_n=1`` on one-word values
    it counts distinct values."""

    d = docs.select(F.col(key_col).alias("key"), F.col(text_col).alias("val"))

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            uniq, idx, starts = _batch_grams(pdf["val"], shingle_n)
            hu = _poly_hash_batch(uniq, _POWS1_NP).astype(np.int64)
            n_per_doc = np.diff(np.append(starts, len(idx)))
            out = pd.DataFrame({
                "key": np.repeat(pdf["key"].to_numpy(), n_per_doc),
                "h": hu[idx],
            }).drop_duplicates()
            yield out

    ktype = dict(d.dtypes)["key"]
    h = d.mapInPandas(run, schema=f"key {ktype}, h long").distinct()
    return _kmv_estimate(h, k)


def kmv_distinct_sql_duckdb(rel: str, key_col: str, value_col: str,
                            k: int = 64) -> str:
    """DuckDB twin of :func:`kmv_distinct_shingles` over (key, shingle)
    rows (same hash, same estimator)."""
    return f"""
    with _d as (select distinct {key_col} as key, {value_col} as val from {rel}),
    _h as (select distinct key, {hash40_sql_duckdb('val', 1)} as h from _d),
    _r as (
      select key, h, row_number() over (partition by key order by h asc) as rk
      from _h
    ),
    _t as (select key, count(*) as n_kept, max(h) as kth_min
           from _r where rk <= {k} group by key)
    select key, n_kept,
           case when n_kept < {k} then cast(n_kept as double)
                else {float(k - 1)!r} / (cast(kth_min as double) / {float((1 << 40) - 87)!r})
           end as est_distinct
    from _t
    """


def cluster_keep_best(comp: DataFrame, scores: DataFrame) -> DataFrame:
    """Quality-aware dedup retention: per connected component (from
    :func:`connected_components`), keep the member with the highest
    score, ties to the lowest node id — what a production dedup pass
    actually retains (the best-quality copy), vs the min-id keep list
    ``component`` itself encodes.

    ``comp`` is (node, component); ``scores`` is (node, score).
    One equi-join + one per-component window; component sizes bound the
    window groups (same boundedness argument as the clustering that
    produced them). Determinism: the score must be a pure function of
    the row (bit-identical across engines — integer-derived doubles),
    ties resolve on node id.
    """
    from pyspark.sql import Window

    j = comp.join(scores, "node")
    w = Window.partitionBy("component").orderBy(
        F.col("score").desc(), F.col("node").asc())
    return (j.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1).drop("_rk"))
