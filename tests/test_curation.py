"""Corpus-curation operators: contamination check, duplicate-span
inventory, deterministic stratified sampling (operators/curation.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from zen3geo_spark.operators.curation import (
    contamination_check, contamination_sql_duckdb, duplicate_span_inventory,
    duplicate_span_sql_duckdb, exploded_word_ngrams, sample_hash,
    stratified_sample, stratified_sample_sql_duckdb, stratified_sample_summary,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist on teardown: a leaked cached full-column scan would be
    # substituted into later tests' plans and break the column-pruning
    # gates in test_plans.py
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


def _duck(sql):
    con = duckdb.connect()
    con.execute(
        f"create view documents as "
        f"select * from read_parquet('{SF}/documents.parquet')")
    return con.execute(sql).fetchall()


def test_word_ngrams_golden(spark):
    df = spark.createDataFrame(
        [(1, "A b c d"), (2, "x y"), (3, "")], "id long, text string")
    rows = sorted((r["id"], r["n_grams"], r["gram"]) for r in
                  exploded_word_ngrams(df, 3, ("id",)).collect())
    # shorter than n (ids 2, 3): NO rows, not a descending-sequence artifact
    assert rows == [(1, 2, "a b c"), (1, 2, "b c d")]


def test_contamination_golden(spark):
    # doc 0 is benchmark (0 % 97 == 0); docs 1-3 are corpus
    df = spark.createDataFrame(
        [(0, "a b c d e f"),          # bench grams: "a b c d e", "b c d e f"
         (1, "a b c d e x y z w v"),  # 6 grams, 1 contaminated (pos 1)
         (2, "q r s t u"),            # 1 gram, 0 contaminated
         (3, "a b")],                 # <5 words: absent from output
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_contaminated"])
           for r in contamination_check(df, n=5, bench_mod=97).collect()}
    assert got == {1: (6, 1), 2: (1, 0)}


def test_contamination_matches_duckdb(docs):
    got = sorted(tuple(r) for r in contamination_check(docs).collect())
    want = sorted(_duck(contamination_sql_duckdb("documents")))
    assert got == want and len(got) > 0


def test_dup_spans_matches_duckdb(docs):
    got = [tuple(r) for r in duplicate_span_inventory(docs).collect()]
    want = _duck(duplicate_span_sql_duckdb("documents"))
    # the (count desc, gram asc) order is total → exact list equality
    assert got == want and len(got) == 20


def test_stratified_summary_matches_duckdb(docs):
    rates = {"en": 100, "es": 50}
    got = sorted(tuple(r) for r in
                 stratified_sample_summary(docs, rates).collect())
    want = sorted(_duck(stratified_sample_sql_duckdb("documents", rates)))
    assert got == want and len(got) > 0


def test_stratified_sample_deterministic_and_consistent(docs):
    rates = {"en": 100, "es": 50}
    kept = stratified_sample(docs, rates)
    # rate semantics: en keeps everything
    n_en = docs.filter(F.col("lang") == "en").count()
    assert kept.filter(F.col("lang") == "en").count() == n_en
    # deterministic: same ids both runs
    ids1 = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    assert ids1 == ids2 and 0 < len(ids1) < docs.count()
    # the summary's n_kept equals the filter's actual kept count
    summ = stratified_sample_summary(docs, rates)
    assert (summ.agg(F.sum("n_kept")).first()[0] == len(ids1))


def test_sample_hash_matches_duckdb(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    got = sorted((r["doc_id"], r["h"]) for r in df.select(
        "doc_id", sample_hash(F.col("doc_id")).alias("h")).collect())
    want = sorted(duckdb.sql(
        "select id as doc_id, (id * 2654435761 + 12345) % 100 as h "
        "from range(1000) t(id)").fetchall())
    assert got == [(d, int(h)) for d, h in want]

def test_pii_scrub_golden(spark):
    from zen3geo_spark.operators.curation import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.co.uk end"),
         (2, "call 555-123-4567 or 12-34"),
         (3, "host 192.168.0.1 and 1.2.3.4567"),
         (4, "clean row")],
        "id long, text string")
    rows = {r["id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["clean_text"] == "mail [EMAIL] end"
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ipv4"]) == (1, 0, 0)
    assert rows[2]["clean_text"] == "call [PHONE] or 12-34"
    # 1.2.3.4567 has no trailing word boundary after a 1-3 digit octet,
    # so only the well-formed quad is redacted
    assert rows[3]["clean_text"] == "host [IP] and 1.2.3.4567"
    assert rows[4]["clean_text"] == "clean row"


def test_pii_scrub_matches_duckdb(spark):
    from zen3geo_spark.operators.curation import pii_scrub, pii_scrub_sql_duckdb

    data = [(1, "a@b.io x 555-000-1111 y 10.0.0.1"),
            (2, "no pii here"),
            (3, "two a@b.co c@d.net mails")]
    df = spark.createDataFrame(data, "id long, text string")
    got = sorted(tuple(r) for r in pii_scrub(df)
                 .select("id", "n_email", "n_phone", "n_ipv4", "clean_text")
                 .collect())
    con = duckdb.connect()
    con.execute("create table t (id bigint, text varchar)")
    con.executemany("insert into t values (?, ?)", data)
    want = sorted(con.execute(
        "select id, n_email, n_phone, n_ipv4, clean_text from ("
        + pii_scrub_sql_duckdb("t") + ")").fetchall())
    assert got == want


def test_url_blocklist_broadcast_plan_and_counts(spark):
    from zen3geo_spark.operators.curation import (
        synth_blocklist, url_blocklist_filter,
    )
    from zen3geo_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 2000)
    tagged = url_blocklist_filter(pages, synth_blocklist(spark))
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles
    # hosts are id%1000; blocked hosts are k%17==3 -> 59 of 1000, and
    # with 2000 pages every host carries exactly 2 pages
    blocked = tagged.filter("block_category is not null")
    assert blocked.count() == 59 * 2
    assert tagged.count() == 2000  # left join keeps every page
    cats = {r["block_category"] for r in blocked.select("block_category").distinct().collect()}
    assert cats == {"adult", "malware", "gambling"}


def test_exploded_word_ngrams_matches_array_form(spark):
    """The index-explode n-grams must be row-identical to the DuckDB
    twin's array slices (``_ngrams_cte_duckdb``) — including the
    short-doc (< n words) drop, positional duplicates and case folding."""
    from zen3geo_spark.operators.curation import _ngrams_cte_duckdb

    rows = [(1, "a b c d e"), (2, "a b"), (3, "x x x x"), (4, "solo"),
            (5, "Tok tok TOK tok")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fast = [(r.doc_id, r.n_grams, r.gram) for r in
            exploded_word_ngrams(docs, 3, ("doc_id",)).collect()]
    con = duckdb.connect()
    con.execute("create table docs (doc_id bigint, text varchar)")
    con.executemany("insert into docs values (?, ?)", rows)
    duck = con.execute(f"with {_ngrams_cte_duckdb('docs', 3)} "
                       "select doc_id, n_grams, gram from g").fetchall()
    assert sorted(fast) == sorted(duck) and len(fast) > 0


def test_gopher_repetition_matches_duckdb_short_docs(spark):
    """ngram_repetition_stats must equal its DuckDB twin on padded,
    short (< n words: one whole-doc gram under the greatest() guard),
    all-repeat and empty docs, and on the hand-computed test's docs."""
    from zen3geo_spark.functions.text import (
        ngram_repetition_sql_duckdb, ngram_repetition_stats,
    )

    rows = [(1, " pad  a b c "), (2, "xy"), (3, "a a a"), (4, ""),
            (5, "a b a b a"), (6, "w x y z q r")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(tuple(r) for r in ngram_repetition_stats(docs).collect())
    con = duckdb.connect()
    con.execute("create table documents (doc_id bigint, text varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    want = sorted(con.execute(
        ngram_repetition_sql_duckdb("documents")).fetchall())
    assert got == want and len(got) == len(rows)


# ---------------------------------------------------------------------------
# chunk dedup / sequence packing / source cap (late r5)
# ---------------------------------------------------------------------------

def test_chunk_dedup_golden(spark):
    from zen3geo_spark.operators.curation import chunk_dedup

    # 2-word chunks; "nav bar" appears in all 3 docs -> hot at max_docs=2;
    # "foo baz" appears in 2 docs -> NOT hot; trailing partial chunk kept.
    df = spark.createDataFrame(
        [(1, "nav bar foo baz alpha"),
         (2, "nav bar foo baz"),
         (3, "nav bar gamma")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           chunk_dedup(df, chunk_words=2, max_docs=2).collect()}
    assert (out[1]["n_chunks"], out[1]["n_dropped"]) == (3, 1)
    assert out[1]["clean_text"] == "foo baz alpha"
    assert (out[2]["n_chunks"], out[2]["n_dropped"]) == (2, 1)
    assert out[2]["clean_text"] == "foo baz"
    # doc 3: both chunks survive ("gamma" tail chunk unique)
    assert (out[3]["n_chunks"], out[3]["n_dropped"]) == (2, 1)
    assert out[3]["clean_text"] == "gamma"


def test_chunk_dedup_all_dropped_empty_text(spark):
    from zen3geo_spark.operators.curation import chunk_dedup

    df = spark.createDataFrame(
        [(1, "nav bar"), (2, "nav bar"), (3, "nav bar")],
        "doc_id long, text string")
    out = chunk_dedup(df, chunk_words=2, max_docs=2).collect()
    assert all(r["clean_text"] == "" and r["n_dropped"] == 1 for r in out)


def test_chunk_dedup_oracle(spark, docs):
    from zen3geo_spark.operators.curation import (
        chunk_dedup, chunk_dedup_sql_duckdb)

    got = sorted(
        tuple(r) for r in chunk_dedup(docs, chunk_words=8,
                                      max_docs=2).collect())
    want = sorted(tuple(r) for r in
                  _duck(chunk_dedup_sql_duckdb("documents", chunk_words=8,
                                               max_docs=2)))
    assert got == want


def test_pack_sequences_budget_and_order(spark):
    from zen3geo_spark.operators.curation import pack_sequences

    # one shard so the packing order is fully determined by the hash
    df = spark.createDataFrame(
        [(i, " ".join(["w"] * 40)) for i in range(10)],
        "doc_id long, text string")
    rows = pack_sequences(df, budget=100, n_shards=1).collect()
    assert {r["n_tokens"] for r in rows} == {40}
    # contiguous fill at 40 tokens/doc, budget 100: cum_before of the
    # j-th doc in hash order is 40*j -> seq_id = (40*j) div 100
    by_seq = {}
    for r in rows:
        by_seq.setdefault(r["seq_id"], 0)
        by_seq[r["seq_id"]] += 1
    # 10 docs * 40 tokens = 400 tokens -> seq ids 0..3 with 3/2/3/2 docs
    assert by_seq == {0: 3, 1: 2, 2: 3, 3: 2}


def test_pack_sequences_deterministic_across_partitionings(spark):
    from zen3geo_spark.operators.curation import pack_sequences

    df = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(tuple(r) for r in
               pack_sequences(df, budget=256, n_shards=8).collect())
    b = sorted(tuple(r) for r in
               pack_sequences(df.repartition(13), budget=256,
                              n_shards=8).collect())
    assert a == b


def test_source_cap_equals_single_window(spark, docs):
    from zen3geo_spark.operators.curation import (
        source_cap, source_cap_sql_duckdb)

    got = sorted(tuple(r) for r in source_cap(docs, k=10,
                                              n_salts=4).collect())
    want = sorted(tuple(r) for r in _duck(source_cap_sql_duckdb(
        "documents", k=10)))
    assert got == want
    # cap actually binds: no source exceeds k rows
    per_src = {}
    for _, src, _, _ in got:
        per_src[src] = per_src.get(src, 0) + 1
    assert max(per_src.values()) <= 10


def test_source_cap_skewed_source_exact(spark):
    from zen3geo_spark.operators.curation import source_cap

    # one giant source + one small one; ties in order_col broken by id
    rows = [(i, "big", 5) for i in range(200)] + [(1000, "small", 9)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long")
    out = source_cap(df, k=3, n_salts=5).collect()
    big = sorted(r["doc_id"] for r in out if r["source"] == "big")
    assert big == [0, 1, 2]  # all n_chars tie -> lowest ids win
    assert [r["doc_id"] for r in out if r["source"] == "small"] == [1000]


def test_epoch_mix_weights(spark, docs):
    from zen3geo_spark.operators.curation import (
        epoch_mix, epoch_mix_sql_duckdb)

    got = sorted(tuple(r) for r in epoch_mix(
        docs, targets={"en": 30, "zh": 25}, default_pct=15).collect())
    want = sorted(tuple(r) for r in _duck(epoch_mix_sql_duckdb(
        "documents", targets={"en": 30, "zh": 25}, default_pct=15)))
    assert got == want
    # weight direction: a language holding share s of tokens with target
    # t gets weight ~ t/s — check en's sign against its actual share
    rows = {r[0]: r for r in got}
    total = sum(r[2] for r in got)
    en_share = rows["en"][2] / total
    assert (rows["en"][4] > 1) == (0.30 > en_share)


def test_c4_segment_clean_golden(spark):
    from zen3geo_spark.operators.curation import (
        c4_segment_clean, c4_segment_clean_sql_duckdb,
    )
    rows = [
        (1, "One two three. x. Four five six seven! ok ok? a b c"),
        (2, "tiny. no!"),                     # nothing survives -> dropped
        (3, "  keep this line.  "),
    ]
    df = spark.createDataFrame(rows, "url int, text string")
    out = {r["url"]: r for r in
           c4_segment_clean(df, "url", "text", 3).collect()}
    assert set(out) == {1, 3}
    assert out[1]["n_segments"] == 5 and out[1]["n_kept"] == 3
    assert out[1]["clean_text"] == (
        "One two three. Four five six seven. a b c")
    assert out[3]["clean_text"] == "keep this line"
    # DuckDB twin on the same literal rows
    vals = ", ".join(f"({u}, '{t}')" for u, t in rows)
    got = _duck(c4_segment_clean_sql_duckdb(
        f"select * from (values {vals}) t(url, text)", "url", "text", 3))
    assert sorted(got) == sorted(
        (r["url"], r["n_segments"], r["n_kept"], r["clean_text"])
        for r in out.values())


def test_readability_golden(spark):
    from zen3geo_spark.functions.text import readability_sql
    txt = "The quick brown fox jumps. It ran far! Done?"
    ex = readability_sql("text", "spark")
    row = (spark.createDataFrame([(txt,)], "text string")
           .selectExpr(*[f"{s} as {n}" for n, s in ex.items()])
           .collect()[0])
    # 9 words, 10 vowel groups, 3 sentences;
    # 390*9 div 3 + 11800*10 div 9 - 15590 = 1170 + 13111 - 15590
    assert (row["n_words"], row["n_syll"], row["n_sents"]) == (9, 10, 3)
    assert row["grade_milli"] == 1170 + 13111 - 15590
    # empty text: 0 words -> NULL grade, sentences floored at 1
    row0 = (spark.createDataFrame([("",)], "text string")
            .selectExpr(*[f"{s} as {n}" for n, s in ex.items()])
            .collect()[0])
    assert row0["n_words"] == 0 and row0["n_sents"] == 1
    assert row0["grade_milli"] is None
