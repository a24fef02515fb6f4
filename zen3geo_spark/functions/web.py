"""Web-pipeline column functions: HTML text extraction, URL
canonicalization, crawl-snapshot deltas.

These cover the crawl-side of the input contract (BASELINE.json
``input_hint``: pages table ``(url, warc_ts, html:binary, text, lang)``
with a per-row "byte-identical extracted text per url" invariant): the
``html`` binary column is decoded and tag-stripped JVM-side and the
result is compared byte-for-byte against the ``text`` column; URLs are
canonicalized the way crawl dedup does (case, default ports, fragments,
tracking params, query-param order); snapshot diffs are a url-keyed
equi-join.

Everything here is a Spark Column helper that stays inside whole-stage
codegen (no Python) plus a DuckDB SQL twin built from the same logic, in
the same style as :mod:`zen3geo_spark.functions.text`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tags are stripped with a non-greedy element match. Written to the
# Java-regex / DuckDB-RE2 common subset (no backrefs, no lookarounds) so
# both engines produce identical output on identical bytes.
TAG_PATTERN = r"<[^>]*>"

# query parameters dropped by canonicalization (tracking noise that
# changes per referral but not per resource)
TRACKING_PREFIX = "utm_"


# ---------------------------------------------------------------------------
# HTML → text extraction (byte-identity invariant)
# ---------------------------------------------------------------------------

def html_to_text(html: Column) -> Column:
    """Decode an ``html`` binary column (UTF-8) and strip markup tags.

    The extractor is intentionally the simplest thing that is
    well-defined on arbitrary bytes — decode, remove ``<...>`` runs —
    because the contract it serves is *byte identity*: on the pages
    table the stripped html must equal the ``text`` column exactly,
    per url (BASELINE.json ``input_hint``). Richer extraction (entity
    decode, script/style elision) would belong behind the same
    signature.

    Scale shape: one pass of JVM ``decode`` + ``regexp_replace`` inside
    whole-stage codegen — no Python, no shuffle; cost is linear in html
    bytes and embarrassingly partition-parallel.
    """
    return F.regexp_replace(F.decode(html, "UTF-8"), TAG_PATTERN, "")


def html_to_text_sql(col: str, engine: str) -> str:
    """DuckDB/Spark SQL twin of :func:`html_to_text`."""
    if engine == "spark":
        return f"regexp_replace(decode({col}, 'UTF-8'), '{TAG_PATTERN}', '')"
    return f"regexp_replace(decode({col}), '{TAG_PATTERN}', '', 'g')"


# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------

def canonical_url(url: Column) -> Column:
    """Crawl-grade URL canonicalization, all JVM:

    1. scheme + host lowercased;
    2. default ports stripped (``https://h:443`` → ``https://h``,
       ``http://h:80`` → ``http://h``);
    3. fragment dropped;
    4. ``utm_*`` tracking params dropped;
    5. remaining query params sorted (stable total order), ``?`` dropped
       when nothing survives.

    The path and param bytes are preserved exactly otherwise — crawl
    dedup must never conflate genuinely distinct resources, only
    re-spellings of the same one.

    Scale shape: pure string expressions + one bounded ``array_sort``
    over the (tiny) per-URL param list; whole-stage codegen, no shuffle.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = (
        F.when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    # query = after the first '?' of the PRE-fragment substring — a '?'
    # inside the fragment (legal per RFC 3986) is not a query marker
    qs = F.regexp_extract(F.regexp_extract(url, r"^([^#]*)", 1), r"\?(.*)", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") & ~p.startswith(TRACKING_PREFIX),
    )
    sorted_qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(sorted_qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_qs)),
    )


def canonical_url_sql(col: str, engine: str) -> str:
    """DuckDB twin of :func:`canonical_url` (same five steps)."""
    if engine == "spark":
        raise NotImplementedError("use canonical_url() Column helper on Spark")
    scheme = f"lower(regexp_extract({col}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    hostport = f"lower(regexp_extract({col}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))"
    host = (
        f"case when {scheme} = 'https' then regexp_replace({hostport}, ':443$', '') "
        f"when {scheme} = 'http' then regexp_replace({hostport}, ':80$', '') "
        f"else {hostport} end"
    )
    path = f"regexp_extract({col}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    # same pre-fragment query extraction as the Spark helper
    qs = f"regexp_extract(regexp_extract({col}, '^([^#]*)', 1), '\\?(.*)', 1)"
    params = (
        f"list_filter(string_split({qs}, '&'), "
        f"p -> p <> '' and p not like '{TRACKING_PREFIX}%')"
    )
    # array_to_string of an empty list is NULL in DuckDB — coalesce to ''
    # so the no-surviving-params case matches Spark's array_join
    sorted_qs = f"coalesce(array_to_string(list_sort({params}), '&'), '')"
    return (
        f"concat({scheme}, '://', {host}, {path}, "
        f"case when {sorted_qs} = '' then '' else concat('?', {sorted_qs}) end)"
    )


# ---------------------------------------------------------------------------
# Messy-URL synthesis (deterministic re-spellings for the canon test)
# ---------------------------------------------------------------------------

def messy_url_sql(url: str, page_id: str, variant: int, engine: str) -> str:
    """Deterministic re-spelling #``variant`` (0 or 1) of a clean
    ``https://host/path`` URL, as an engine-neutral SQL template over a
    url column and a bigint page id.

    Variant 0 upper-cases the host on ids ≡0 (mod 3), appends ``:443``
    on ids ≡0 (mod 4), and carries ``?utm_source=feed&b=2&a=1``;
    variant 1 keeps the host clean, carries the same real params
    pre-sorted (``?a=1&b=2``) with no tracking noise, and appends a
    fragment on ids ≡0 (mod 5). Both re-spellings canonicalize to the
    identical URL, which is what the ``url_canonical`` query pins.
    """
    s = "string" if engine == "spark" else "varchar"
    hostexpr = f"regexp_extract({url}, '^https://([^/]+)/', 1)"
    pathexpr = f"regexp_extract({url}, '^https://[^/]+(/.*)$', 1)"
    if variant == 0:
        host = (
            f"case when {page_id} % 3 = 0 then upper({hostexpr}) "
            f"else {hostexpr} end"
        )
        port = f"case when {page_id} % 4 = 0 then ':443' else '' end"
        tail = "'?utm_source=feed&b=2&a=1'"
        return f"concat('https://', {host}, {port}, {pathexpr}, {tail})"
    frag = (
        f"case when {page_id} % 5 = 0 then concat('#s', cast({page_id} % 7 as {s})) "
        f"else '' end"
    )
    return f"concat('https://', {hostexpr}, {pathexpr}, '?a=1&b=2', {frag})"


# ---------------------------------------------------------------------------
# robots.txt longest-prefix-match evaluation
# ---------------------------------------------------------------------------

def robots_decisions(pages, rules):
    """Evaluate robots.txt-style prefix rules against every page URL:
    ``rules`` is a flat ``(host, prefix, allow: int)`` dimension; the
    REP rule is longest-matching-prefix wins, Allow wins ties, and a URL
    with no matching rule is allowed (RFC 9309 §2.2.2).

    Adds ``host`` and ``allowed`` (int 0/1) columns to ``pages``.

    Scale shape: robots dimensions are host-count-sized (small by
    construction), so the per-host rule ARRAYS broadcast and the
    longest-match scan runs as a higher-order ``aggregate`` over each
    URL's host rules inside whole-stage codegen — the corpus side never
    shuffles, and there is no per-URL row explosion (a plain
    prefix-match join would fan each URL out by its matching-rule count
    and need a corpus-wide re-group to pick the winner).
    """
    from pyspark.sql import functions as F
    from zen3geo_spark.operators.curation import url_host

    rlist = (rules.groupBy("host")
             .agg(F.collect_list(F.struct("prefix", "allow")).alias("rlist")))
    j = (pages
         .withColumn("host", url_host(F.col("url")))
         .withColumn("_path",
                     F.regexp_extract(F.col("url"),
                                      r"^https?://[^/]+(/.*)$", 1))
         .join(F.broadcast(rlist), "host", "left"))
    # max over matched rules of (prefix length, allow): order-independent,
    # so collect_list's nondeterministic order cannot change the result.
    best = F.expr(
        "aggregate("
        "  filter(rlist, r -> startswith(_path, r.prefix)),"
        "  named_struct('l', -1, 'a', 1),"
        "  (acc, r) -> if(length(r.prefix) > acc.l"
        "               or (length(r.prefix) = acc.l and r.allow > acc.a),"
        "              named_struct('l', length(r.prefix), 'a', r.allow),"
        "              acc))")
    return (j.withColumn(
        "allowed",
        F.when(F.col("rlist").isNull(), F.lit(1)).otherwise(best["a"]))
        .drop("rlist", "_path"))


def robots_rules_synth(spark, n_hosts: int = 1000):
    """Deterministic robots dimension over the synthetic host universe
    (formulas shared with :func:`robots_rules_sql_duckdb`): every host
    disallows ``/page/1``; even hosts re-allow ``/page/12`` (longer
    prefix — the allow must win); every host with k % 13 == 7 disallows
    ``/`` (blanket, but SHORTER than both page rules, so it only decides
    URLs the page rules don't reach)."""
    from pyspark.sql import functions as F

    base = spark.range(n_hosts).selectExpr(
        "concat('example-', cast(id as string), '.test') as host", "id")
    r1 = base.selectExpr("host", "'/page/1' as prefix", "0 as allow")
    r2 = (base.filter(F.col("id") % 2 == 0)
          .selectExpr("host", "'/page/12' as prefix", "1 as allow"))
    r3 = (base.filter(F.col("id") % 13 == 7)
          .selectExpr("host", "'/' as prefix", "0 as allow"))
    return r1.unionAll(r2).unionAll(r3)


def robots_rules_sql_duckdb(n_hosts: int = 1000) -> str:
    """DuckDB twin of :func:`robots_rules_synth`."""
    return f"""
select concat('example-', cast(id as varchar), '.test') as host,
       '/page/1' as prefix, 0 as allow from range({n_hosts}) t(id)
union all
select concat('example-', cast(id as varchar), '.test'),
       '/page/12', 1 from range({n_hosts}) t(id) where id % 2 = 0
union all
select concat('example-', cast(id as varchar), '.test'),
       '/', 0 from range({n_hosts}) t(id) where id % 13 = 7
"""


def robots_audit_sql_duckdb(pages_cte: str, n_hosts: int = 1000) -> str:
    """DuckDB twin of the per-host robots audit: longest-prefix match as
    a prefix join + QUALIFY argmax (relationally identical to the
    higher-order aggregate on the Spark side)."""
    return f"""
with pages as ({pages_cte}),
rules as ({robots_rules_sql_duckdb(n_hosts)}),
p as (
  select url,
         regexp_extract(url, '^https?://([^/]+)/', 1) as host,
         regexp_extract(url, '^https?://[^/]+(/.*)$', 1) as path
  from pages
),
decided as (
  select p.url, p.host,
         coalesce(r.allow, 1) as allow,
         row_number() over (
             partition by p.url
             order by len(r.prefix) desc nulls last, r.allow desc) as rn
  from p left join rules r
    on r.host = p.host and starts_with(p.path, r.prefix)
)
select host,
       count(*) as n_pages,
       sum(allow) as n_allowed,
       count(*) - sum(allow) as n_blocked
from decided where rn = 1
group by host
"""


def synth_cidr_sql(n_blocks: int, engine: str) -> str:
    """Engine-parameterized synthetic CIDR block table (block_id,
    prefix_len 4–16, prefix, country): Knuth-hash-scattered prefixes;
    overlapping blocks are resolved by longest-prefix match downstream.
    ``cast(power(2, 32−len))`` is exact (≤ 2^20 fits a double)."""
    d = " div " if engine == "spark" else " // "
    return f"""
    select b.b as block_id, 4 + b.b % 13 as prefix_len,
           ((b.b * 2654435761) % 4294967296)
             {d} cast(power(2, 32 - (4 + b.b % 13)) as bigint)
             * cast(power(2, 32 - (4 + b.b % 13)) as bigint) as prefix,
           concat('C', cast(b.b % 50 as {'string' if engine == 'spark'
                                         else 'varchar'})) as country
    from range({n_blocks}) as b(b)
    """


def ip_geo_join(hosts: DataFrame, cidr: DataFrame) -> DataFrame:
    """Longest-prefix-match IP geolocation — the MaxMind/GeoIP lookup
    as a bounded relational plan: each host IP registers under every
    candidate prefix length (constant fan-out: the 13 lengths the block
    table uses), candidates meet via an EQUI-join on (prefix_len,
    truncated prefix) — the dim side broadcasts — and one per-host
    argmax window keeps the most specific block. No range/theta join,
    no per-row loop; the same trick as the robots longest-prefix
    matcher but on bit prefixes.

    ``hosts``: (host, ip) with ip an int in [0, 2^32); ``cidr``:
    (block_id, prefix_len, prefix, country). Returns (host, ip,
    prefix_len, country) for matched hosts.
    """
    from pyspark.sql.window import Window

    lens = F.array(*[F.struct(F.lit(l).alias("prefix_len"),
                              F.lit(1 << (32 - l)).alias("m"))
                     for l in range(4, 17)])
    cand = (hosts.withColumn("_l", F.explode(lens))
            .selectExpr("host", "ip", "_l.prefix_len as prefix_len",
                        "ip div _l.m * _l.m as prefix"))
    w = Window.partitionBy("host").orderBy(
        F.col("prefix_len").desc(), F.col("block_id"))
    return (cand.join(F.broadcast(cidr), ["prefix_len", "prefix"])
            .withColumn("_rk", F.row_number().over(w))
            .filter("_rk = 1")
            .select("host", "ip", "prefix_len", "country"))


def ip_geo_sql_duckdb(hosts_sql: str, cidr_sql: str) -> str:
    """DuckDB twin of :func:`ip_geo_join`."""
    return f"""
    with _h as ({hosts_sql}), _c as ({cidr_sql}),
    cand as (
      select h.host, h.ip, l.l as prefix_len,
             h.ip // cast(power(2, 32 - l.l) as bigint)
               * cast(power(2, 32 - l.l) as bigint) as prefix
      from _h h, (select unnest(generate_series(4, 16)) as l) l
    )
    select host, ip, prefix_len, country from (
      select cand.host, cand.ip, cand.prefix_len, c.country,
             row_number() over (partition by cand.host
                                order by cand.prefix_len desc,
                                         c.block_id) as rk
      from cand join _c c
        on cand.prefix_len = c.prefix_len and cand.prefix = c.prefix
    ) where rk = 1
    """


def table_checksum(pages: DataFrame) -> DataFrame:
    """Order-insensitive corpus integrity checksum — the cross-replica
    / post-migration audit (Iceberg content-file checksums, rsync-style
    verification) as one aggregate: per row, a canonical serialization
    (url ␟ ts ␟ md5(html) ␟ md5(text) ␟ lang) is md5'd, the 32-hex
    digest is folded through the two shared 40-bit polynomial hashes
    (32 chars < the 64-char hash cap — no truncation), and the
    commutative ``bit_xor`` aggregate combines them: no overflow at ANY
    row count, any partitioning, any order. Returns one row
    (n_rows, xor1, xor2)."""
    canon = F.md5(F.concat_ws(
        "\x1f", F.col("url"),
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss"),
        F.md5(F.col("html")), F.md5(F.col("text")), F.col("lang")))
    from zen3geo_spark.operators.dedup import gram_hash40

    return (pages.select(canon.alias("_c"))
            .select(gram_hash40(F.col("_c"), 1).alias("h1"),
                    gram_hash40(F.col("_c"), 2).alias("h2"))
            .agg(F.count("*").alias("n_rows"),
                 F.expr("bit_xor(h1)").alias("xor1"),
                 F.expr("bit_xor(h2)").alias("xor2")))


def table_checksum_sql_duckdb(pages_sql: str) -> str:
    """DuckDB twin of :func:`table_checksum` (same canonicalization —
    html/text md5 over identical bytes)."""
    from zen3geo_spark.operators.dedup import hash40_sql_duckdb

    canon = ("md5(concat_ws(chr(31), url, "
             "strftime(warc_ts, '%Y-%m-%d %H:%M:%S'), "
             "md5(decode(html)), md5(text), lang))")
    return f"""
    with _p as ({pages_sql}),
    h as (select {hash40_sql_duckdb(canon, 1)} as h1,
                 {hash40_sql_duckdb(canon, 2)} as h2
          from _p)
    select count(*) as n_rows, bit_xor(h1) as xor1, bit_xor(h2) as xor2
    from h
    """
