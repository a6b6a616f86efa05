"""Web-corpus ingest queries: the crawl-archive leg of the LLM data
pipeline (north star: BASELINE.json) — WARC container roundtrip
(clif_spark.warc), HTML -> text extraction (curation.html_to_text), URL
canonicalization + URL-level dedup (functions.url), and the end-to-end
web-ingest pipeline chaining them.

Testdata carries no crawl archive, so the queries build one INSIDE the
plan from the documents table (the planted-input pattern,
queries/curation.py module docstring): page HTML and URLs are
deterministic SQL expressions whose one text both the engine and the
oracle evaluate, the WARC container is our own builder, and the gate verifies that the full
build -> serialize -> parse -> extract chain inverts to exactly what the
oracle computes straight off the documents table. The WARC leg has no
DuckDB equivalent, so its fidelity is what the roundtrip gate (rows +
schema + value hash over every doc) actually measures.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clif_spark import curation, io, warc
from clif_spark.functions import url as urlfn
from clif_spark.operators.core import fits_broadcast, materialize
from clif_spark.operators.graph import FIXPOINT_MAX_ITERS
from clif_spark.queries import query

# --- shared planted inputs (one SQL text, read by both engines) ---------
#
# Each planted input is ONE dialect-neutral SQL expression: the oracle
# splices it into DuckDB SQL and the engine evaluates the same string
# through F.expr/selectExpr (Spark SQL and DataFrame calls lower to the
# same Catalyst plan). Neutral means: CAST(... AS STRING) (Spark rejects
# a bare VARCHAR, DuckDB reads STRING as VARCHAR), chr(10) for newlines
# and character classes instead of backslash escapes (Spark's parser
# unescapes '\d' to 'd', DuckDB keeps the backslash), and || only
# between operands that need no arithmetic precedence. Pinned by
# tests/test_web_fixtures.py.

_URL_PRE = "https://corpus.example/"

_DOC_URL_SQL = (f"'{_URL_PRE}' || source || '/' || "
                "CAST(doc_id AS STRING)")

# Page template: a <style> block, an HTML comment, block + inline tags,
# a <script> whose body contains < > && (tag-stripping alone would
# corrupt it — the script rule must run first), and an entity probe
# exercising decode order (&lt;b&gt; must become literal "<b>" AFTER tag
# removal; &amp;amp; must single-pass to "&amp;"). The body text is
# HTML-escaped (&, <, >: the minimum a conformant producer escapes).
_PAGE_HTML_SQL = (
    "'<html><head><title>' || source || '</title><style>h1 {color: red}"
    "</style></head><body><!-- crawl ' || CAST(doc_id AS STRING) || "
    "' --><h1>Doc ' || CAST(doc_id AS STRING) || '</h1><p>entity probe: "
    "&lt;b&gt;&nbsp;&amp;amp; done</p><p>' || "
    "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), "
    "'>', '&gt;') || '</p><script type=\"text/javascript\">"
    "if (2<3 && 1>0) { var x = 1; }</script></body></html>'")


def _sql_html_to_text(expr: str) -> str:
    """DuckDB mirror of curation.html_to_text, built from the SAME step
    tables (HTML_STRIP_STEPS / HTML_ENTITIES) so the rule lists cannot
    drift. Dialect deltas only: DuckDB needs the explicit 'g' flag (Spark
    regexp_replace is global by default). Both regex engines treat these
    patterns identically (inline (?is), lazy quantifiers, \\b; ASCII
    ``\\s`` — the one corpus-visible delta, Java's includes \\x0B, is
    unreachable here because the collapse runs on entity-decoded HTML
    whose whitespace is spaces/newlines)."""
    out = expr
    for pat, repl in curation.HTML_STRIP_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    for ent, ch in curation.HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{ch_sql}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def _shard_count(d) -> int:
    """WARC file count for the in-plan crawl harness: ~8k docs per
    shard, floor 8. Mirrors Common Crawl's fixed-size shard policy (the
    shard count grows with the crawl, never the shard): a HARDCODED 8
    capped parse/extract parallelism at 8 tasks regardless of corpus
    size — measured 473 s for the sf10 pipeline before scaling this
    (with the quadratic-gzip fix accounting for most of it, but the
    8-way ceiling is what a 1000-executor cluster would still hit). The
    floor keeps small SFs at the scheduler-floor cost they were benched
    at; the count() is one column-pruned metadata-sized job. Output of
    every gated row is file-count invariant (per-doc rows or global
    aggregates), so this is a pure physical knob."""
    return max(8, d.count() // 8192)


# --- S9: WARC container roundtrip ---------------------------------------


@query(
    "io_warc_roundtrip",
    oracle=f"""
    SELECT doc_id,
           {_DOC_URL_SQL} AS target_uri,
           text,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def io_warc_roundtrip(spark, sf_dir):
    """S9 (engine ext.): WARC write -> read inversion over the real
    documents table. Records are built in pure Catalyst (plan-asserted:
    tests/test_plans.py), assembled into corpus-proportional shards
    (_shard_count) in the MIXED layout
    (even file_ids plain ``.warc``, odd per-record-gzip ``.warc.gz`` —
    both reader paths sit under this one gate), parsed back by the
    Arrow-batched mapInPandas reader, and compared doc-for-doc against
    the oracle's direct view of the table: URI, payload text, and byte
    length must all invert exactly, including empty-payload docs.

    100 TB shape: parallelism = WARC file count (gzip members are not
    split-table), exactly how Common Crawl shards (~64k files/crawl);
    the parser is per-file streaming with no shuffle — the only
    exchange here is the test harness's own 8-file assembly."""
    d = io.load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "text", F.expr(_DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % _shard_count(d)).alias("file_id"))
    files = warc.assemble_warc_files(
        warc.build_warc_records(docs), gzip_records="mixed")
    parsed = warc.parse_warc(files)
    return parsed.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
         .alias("doc_id"),
        F.col("target_uri"),
        F.col("payload").cast("string").alias("text"),
        F.octet_length("payload").cast("long").alias("n_bytes"))


# --- F17: HTML -> text extraction ---------------------------------------


def _html_extract_oracle() -> str:
    """Shared by text_html_extract and its streaming twin
    stream_web_ingest (the settled stream must equal the batch answer,
    so one oracle text serves both — the stream_agg_maintenance/u9
    pattern)."""
    return f"""
    WITH page AS (
      SELECT doc_id, {_PAGE_HTML_SQL} AS html FROM documents)
    SELECT doc_id, {_sql_html_to_text('html')} AS extracted,
           CAST(length({_sql_html_to_text('html')}) AS BIGINT) AS n_chars
    FROM page
    """


@query("text_html_extract", oracle=_html_extract_oracle())
def text_html_extract(spark, sf_dir):
    """F17 (engine ext.): rule-based HTML -> visible-text extraction
    (curation.html_to_text) over planted page markup wrapping each real
    document: script/style/comment blocks dropped whole (the script body
    here contains ``<``/``&&`` precisely so naive tag-stripping would
    corrupt it), block tags become spaces, inline tags vanish, entities
    decode after tag removal (the ``&lt;b&gt;`` probe must surface as
    literal text), whitespace collapses.

    Pure narrow Catalyst regexp chain — whole-stage codegen, zero
    shuffles, zero Python at any corpus size; the oracle builds its
    regex chain from the same step tables, so extraction rules are
    pinned in one place (curation.HTML_STRIP_STEPS)."""
    d = io.load_table(spark, sf_dir, "documents")
    page = d.select("doc_id", F.expr(_PAGE_HTML_SQL).alias("html"))
    ext = curation.html_to_text(F.col("html"))
    return page.select(
        "doc_id", ext.alias("extracted"),
        F.length(ext).cast("long").alias("n_chars"))


# --- D1: URL canonicalization + URL-level dedup -------------------------

# Planted raw URLs. Percent-encoding decoys, each observable in the
# canonical hash: %69 (unreserved -> must decode back into the shared
# 'articles' collision group), %75tm_source (the tracking filter must
# fire on the DECODED name), %2f (reserved -> must stay encoded with
# UPPERCASE hex).
_RAW_URL_SQL = """
         (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END)
         || '://'
         || (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END)
         || '.Example.COM'
         || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
         || (CASE WHEN doc_id % 8 = 0 THEN '/art%69cles/'
             ELSE '/articles/' END) || CAST(doc_id % 40 AS STRING)
         || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0
             THEN '?' || (CASE WHEN doc_id % 16 = 0
                          THEN '%75tm_source' ELSE 'utm_source' END)
                  || '=feed&id=' || CAST(doc_id % 40 AS STRING)
             ELSE '?id=' || CAST(doc_id % 40 AS STRING)
                  || '&utm_campaign=x' END)
         || (CASE WHEN doc_id % 9 = 0 THEN '&ref=a%2fb' ELSE '' END)
         || (CASE WHEN doc_id % 3 = 0 THEN '#sec1' ELSE '' END)
"""


def _sql_pct(e: str) -> str:
    """DuckDB mirror of functions/url.py::pct_normalize — RFC 3986
    §6.2.2 percent-normalization of one URL component, kept
    rule-for-rule in sync: gate on ``%`` presence, split on ``%``,
    head verbatim, each tail piece either re-escaped verbatim
    (malformed pair), decoded (unreserved octet — the hex-pair regex
    makes the decode provably ASCII-safe; DuckDB's decode() errors on
    invalid UTF-8, so the gate is load-bearing), or hex-uppercased."""
    parts = f"string_split({e}, '%')"
    # lambda var 'pnx', not 'x': callers nest this inside their own
    # x-bound list lambdas (the query-param transform)
    piece = (
        "CASE WHEN NOT regexp_matches(upper(pnx[1:2]), '^[0-9A-F]{2}$') "
        "THEN '%' || pnx "
        "WHEN regexp_matches(upper(pnx[1:2]), "
        "'^(4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E|3[0-9]|2[DE])$') "
        "THEN decode(unhex(upper(pnx[1:2]))) || pnx[3:] "
        "ELSE '%' || upper(pnx[1:2]) || pnx[3:] END")
    return (f"(CASE WHEN strpos({e}, '%') = 0 THEN {e} "
            f"ELSE {parts}[1] || coalesce(array_to_string("
            f"list_transform({parts}[2:], pnx -> {piece}), ''), '') END)")


# Shared canonical path / query-string expressions over a
# fragment-stripped URL expression ``u`` — percent-normalization
# (_sql_pct) runs on the trimmed path and on every query param BEFORE
# the tracking filter + sort, mirroring functions/url.py.
_SQL_RAWP = ("regexp_extract(u, "
             "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)")
_SQL_PATH = _sql_pct(
    f"regexp_replace(CASE WHEN {_SQL_RAWP} = '' THEN '/' "
    f"ELSE {_SQL_RAWP} END, '^(.+?)/+$', '\\1')")
_SQL_QS = (
    "array_to_string(list_sort(list_filter(list_transform("
    "string_split(regexp_extract(u, '\\?([^#]*)', 1), '&'), "
    f"x -> {_sql_pct('x')}), "
    "x -> x <> '' AND NOT starts_with(split_part(x, '=', 1), 'utm_') "
    "AND split_part(x, '=', 1) <> 'fbclid')), '&')")

# DuckDB mirror of functions.url's canonicalization, shared by the two
# URL-keyed oracles (text_url_canonicalize, web_host_stats): CTE chain
# ending in canon(doc_id, n_chars, host, canonical_url).
_CANON_CTES = r"""
    raw AS (
      SELECT doc_id, n_chars, {raw_url} AS url FROM documents),
    nofrag AS (
      SELECT doc_id, n_chars,
             regexp_replace(url, '#.*$', '') AS u FROM raw),
    parts AS (
      -- port strip is SCHEME-AWARE, mirroring functions/url.py rule
      -- for rule: only the scheme's own default port is an
      -- identity-preserving removal (http:80, https:443)
      SELECT doc_id, n_chars,
        lower(regexp_extract(u,
          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_replace(
          CASE lower(regexp_extract(u,
                 '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
            WHEN 'http' THEN regexp_replace(lower(regexp_extract(u,
              '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':80$', '')
            WHEN 'https' THEN regexp_replace(lower(regexp_extract(u,
              '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':443$', '')
            ELSE lower(regexp_extract(u,
              '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
          END, '^www\.', '') AS host,
        {pct_path} AS path,
        {pct_qs} AS qs
      FROM nofrag),
    canon AS (
      SELECT doc_id, n_chars,
             host,
             scheme || '://' || host || path ||
             (CASE WHEN qs = '' THEN '' ELSE '?' || qs END)
               AS canonical_url
      FROM parts)
""".replace("{raw_url}", _RAW_URL_SQL) \
   .replace("{pct_path}", _SQL_PATH).replace("{pct_qs}", _SQL_QS)


@query(
    "text_url_canonicalize",
    oracle=f"""
    WITH {_CANON_CTES}
    SELECT canonical_url, host,
           doc_id AS kept_doc_id,
           CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT)
             AS dup_count
    FROM canon
    QUALIFY row_number() OVER
      (PARTITION BY canonical_url
       ORDER BY n_chars DESC, doc_id) = 1
    """,
)
def text_url_canonicalize(spark, sf_dir):
    """D1 (engine ext.): URL canonicalization (functions.url — fragment/
    default-port/``www.``/tracking-param removal, case folding, param
    sort) followed by URL-level dedup keeping the best document per
    canonical URL (longest text, doc_id tiebreak — CC-Net's
    one-doc-per-URL pass, the cheapest dedup signal in the stack).

    The planted raw URLs vary scheme/host case, ``WWW.``, ``:443``,
    trailing slash, param order, tracking params, and fragments, and
    collide on (source, doc_id % 40) once canonicalized — so the gate
    verifies both the normalizer (every rule fires somewhere) and the
    keep-best window. Shape: narrow regex projection + ONE shuffle on
    canonical_url; URL-keyed skew is bounded (a canonical URL's dup
    group is refetch-count sized, not corpus-sized)."""
    d = io.load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", "n_chars", F.expr(_RAW_URL_SQL).alias("url"))
    canon = raw.select(
        "doc_id", "n_chars",
        urlfn.url_host("url").alias("host"),
        urlfn.canonicalize_url("url").alias("canonical_url"))
    w = Window.partitionBy("canonical_url")
    return (canon
            .withColumn("dup_count", F.count(F.lit(1)).over(w).cast("long"))
            .withColumn("rn", F.row_number().over(
                w.orderBy(F.col("n_chars").desc(), F.col("doc_id"))))
            .filter(F.col("rn") == 1)
            .select("canonical_url", "host",
                    F.col("doc_id").alias("kept_doc_id"), "dup_count"))


# --- §3+: the end-to-end web-ingest pipeline ----------------------------

_KEEP_CHARS = 60


@query(
    "pipeline_web_ingest",
    oracle=f"""
    WITH page AS (
      SELECT doc_id, source, {_PAGE_HTML_SQL} AS html FROM documents),
    ext AS (
      SELECT doc_id, source,
             {_sql_html_to_text('html')} AS t FROM page)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_fetched,
           CAST(COUNT(CASE WHEN length(t) >= {_KEEP_CHARS} THEN 1 END)
                AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN length(t) >= {_KEEP_CHARS}
                THEN length(t) END), 0) AS BIGINT) AS sum_chars,
           CAST(COALESCE(SUM(CASE WHEN length(t) >= {_KEEP_CHARS}
                THEN len(string_split(t, ' ')) END), 0) AS BIGINT)
             AS sum_tokens
    FROM ext
    GROUP BY source
    """,
)
def pipeline_web_ingest(spark, sf_dir):
    """The full crawl-ingest chain, end to end: page HTML (planted) ->
    WARC records -> mixed plain/gzip files -> parse -> HTML->text
    extraction -> length gate -> per-source corpus stats. This is the
    composition a Common Crawl-scale pipeline runs before any dedup or
    quality model, with every stage an operator this module already
    gates in isolation; the row pins the CHAIN (payloads survive the
    container bit-for-bit AND the extraction after it).

    The oracle mirrors the post-parse chain straight off the documents
    table — the WARC legs cancel exactly (that inversion is
    io_warc_roundtrip's gate), so any container-introduced corruption
    surfaces here as a hash mismatch. Integer aggregates only (counts,
    char/token sums) — no float-sum ordering concerns."""
    d = io.load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.expr(_PAGE_HTML_SQL).alias("page"),
        F.expr(_DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % _shard_count(d)).alias("file_id"))
    files = warc.assemble_warc_files(
        warc.build_warc_records(docs, payload_col="page"),
        gzip_records="mixed")
    parsed = warc.parse_warc(files)
    t = curation.html_to_text(F.col("payload").cast("string"))
    ext = parsed.select(
        F.regexp_extract("target_uri",
                         rf"{_URL_PRE}([^/]+)/", 1).alias("source"),
        t.alias("t"))
    kept = F.length("t") >= _KEEP_CHARS
    return ext.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetched"),
        F.count_if(kept).cast("long").alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.length("t"))), F.lit(0))
         .cast("long").alias("sum_chars"),
        F.coalesce(F.sum(F.when(kept, F.size(F.split("t", " ")))),
                   F.lit(0)).cast("long").alias("sum_tokens"))


# --- the ingest chain as a stream ---------------------------------------


@query("stream_web_ingest", oracle=_html_extract_oracle())
def stream_web_ingest(spark, sf_dir):
    """The crawl-ingest chain as Structured Streaming: WARC shards land
    as files, each micro-batch parses its shard and emits extracted
    text rows downstream — the production shape of continuous crawl
    ingestion (Common Crawl drops ~64k shards/crawl; a streaming job
    drains them as they arrive instead of re-listing the lake).

    Stateless 1->N transform (parse + extract are per-file/per-record),
    so append mode with no watermark or state store; the settled union
    over micro-batches must equal the batch extraction bit-for-bit,
    which the SHARED text_html_extract oracle checks. The mixed
    plain/gz layout rides along, so both reader paths are exercised
    under replay too."""
    import tempfile

    from clif_spark import streaming

    d = io.load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.expr(_PAGE_HTML_SQL).alias("page"),
        F.expr(_DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % _shard_count(d)).alias("file_id"))
    files = warc.assemble_warc_files(
        warc.build_warc_records(docs, payload_col="page"),
        gzip_records="mixed")
    scratch = tempfile.mkdtemp(prefix="clif_stream_warc_")
    files.repartition(4).write.mode("overwrite").parquet(scratch)
    stream = (spark.readStream.schema(files.schema)
                   .option("maxFilesPerTrigger", 1).parquet(scratch))
    parsed = warc.parse_warc(stream)
    ext = curation.html_to_text(F.col("payload").cast("string"))
    out = parsed.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
         .alias("doc_id"),
        ext.alias("extracted"),
        F.length(ext).cast("long").alias("n_chars"))
    return streaming.run_to_memory(out, output_mode="append",
                                   state_partitions=None)


# --- D2: host-level corpus governance -----------------------------------


@query(
    "web_host_stats",
    oracle=f"""
    WITH {_CANON_CTES}
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_urls,
           CAST(COUNT(*) - COUNT(DISTINCT canonical_url) AS BIGINT)
             AS n_dup_docs,
           (COUNT(*) >= 2 * COUNT(DISTINCT canonical_url)) AS flagged
    FROM canon
    GROUP BY host
    """,
)
def web_host_stats(spark, sf_dir):
    """D2 (engine ext.): host-level corpus governance — the reputation
    pass crawl pipelines run ABOVE URL dedup (CC-Net style host lists):
    per canonical host, fetched docs vs distinct canonical URLs, the
    refetch surplus, and a flag for hosts where duplicates are the
    majority (candidates for blocklisting or crawl-rate cuts).

    Shape: the canonicalization is the same narrow Catalyst projection
    as text_url_canonicalize (shared oracle CTEs pin the two queries to
    one rule set), then ONE hash aggregation keyed on host —
    host-count-sized output, partial aggregation below the exchange.
    Host skew is the real-world hazard (one host can be 1% of a crawl);
    count-distinct over canonical_url shuffles (host, url) pairs, not
    docs, so the hot host's state is its URL count, not its row
    count."""
    d = io.load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", "n_chars", F.expr(_RAW_URL_SQL).alias("url"))
    canon = raw.select(
        urlfn.url_host("url").alias("host"),
        urlfn.canonicalize_url("url").alias("canonical_url"))
    n_docs = F.count(F.lit(1)).cast("long")
    n_urls = F.count_distinct(F.col("canonical_url")).cast("long")
    return canon.groupBy("host").agg(
        n_docs.alias("n_docs"),
        n_urls.alias("n_urls"),
        (n_docs - n_urls).alias("n_dup_docs"),
        (n_docs >= 2 * n_urls).alias("flagged"))


# --- D3: robots/licensing gate ahead of extraction -----------------------

# Planted per-host deny list: robots-disallowed and license-denied hosts
# over the canonical host key web_host_stats aggregates on. Literal in
# both engines so the rule list is pinned in one place.
_DENY_HOSTS = [
    ("src0.example.com", "robots"),
    ("src7.example.com", "robots"),
    ("src14.example.com", "robots"),
    ("src3.example.com", "license"),
    ("src10.example.com", "license"),
    ("src17.example.com", "license"),
]

_DENY_SQL = "(VALUES " + ", ".join(
    f"('{h}', '{r}')" for h, r in _DENY_HOSTS) + ") AS deny(host, reason)"


@query(
    "web_robots_filter",
    oracle=f"""
    WITH {_CANON_CTES}
    SELECT c.host,
           CAST(COUNT(*) AS BIGINT) AS n_fetched,
           ANY_VALUE(deny.reason) AS deny_reason,
           CAST(CASE WHEN ANY_VALUE(deny.reason) IS NULL
                THEN COUNT(*) ELSE 0 END AS BIGINT) AS n_kept,
           CAST(CASE WHEN ANY_VALUE(deny.reason) IS NULL
                THEN SUM(c.n_chars) ELSE 0 END AS BIGINT) AS kept_chars
    FROM canon c
    LEFT JOIN {_DENY_SQL} ON c.host = deny.host
    GROUP BY c.host
    """,
)
def web_robots_filter(spark, sf_dir):
    """D3 (engine ext.): the robots/licensing gate real crawl curation
    runs AHEAD of extraction (CC-Net/C4 drop disallowed hosts before
    spending a single extraction cycle on their pages): a per-host
    allow/deny list — robots disallow entries and license-denied hosts —
    applied to the canonicalized URL stream as a BROADCAST ANTI-JOIN,
    so the kept stream never shuffles and the denylist (host-count
    sized, KBs even for a million-host list) rides to every executor.
    Output is the governance report: per host, fetched counts, the deny
    reason (NULL = allowed), and the kept doc/char volume that proves
    the filter actually removed the denied hosts' documents rather than
    just flagging them.

    Reference analog: none (north-star crawl-curation surface); host
    key and canonicalization shared with web_host_stats via the same
    oracle CTEs so one rule set governs all URL-keyed rows."""
    d = io.load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", "n_chars", F.expr(_RAW_URL_SQL).alias("url"))
    canon = raw.select(
        urlfn.url_host("url").alias("host"), "n_chars")
    deny = spark.createDataFrame(_DENY_HOSTS, "host string, reason string")
    # ONE corpus pass: broadcast left join marks each doc with its
    # host's deny reason (NULL = allowed), then one host-keyed
    # conditional aggregation produces fetched AND kept stats together.
    # The first cut of this row ran the production anti-join (the
    # filtered-STREAM form — kept = canon.join(broadcast(deny), host,
    # "left_anti"), which is the right plan when downstream wants the
    # surviving ROWS) plus a second full scan for the fetched counts:
    # measured 4.8 s / 18x vs DuckDB at sf10 BECAUSE of the double
    # regexp scan. For the governance REPORT, the marked single pass is
    # the right plan — 1.4 s / 4.1x same-phase at sf10, falling with
    # scale (10.2x at sf1 is stage-floor, not data path).
    allowed = F.col("reason").isNull()
    return (canon.join(F.broadcast(deny), "host", "left")
            .groupBy("host")
            .agg(F.count(F.lit(1)).cast("long").alias("n_fetched"),
                 F.any_value(F.col("reason")).alias("deny_reason"),
                 F.count_if(allowed).cast("long").alias("n_kept"),
                 F.coalesce(F.sum(F.when(allowed, F.col("n_chars"))),
                            F.lit(0)).cast("long").alias("kept_chars")))


# --- D4: robots.txt PARSE -> rules -> prefix filter ----------------------

# Planted robots.txt per host (one SQL text for both engines): a
# comment, a googlebot-only group that must be IGNORED (its Disallow: /
# would block everything), and a wildcard group with two user-agent
# lines (RFC 9309 multi-agent groups) whose rules exercise every §2.2.2
# precedence behavior observably (paths are /articles/0..39, k = source
# number % 4):
#   Disallow: /articles/{k}   blocks {k} and {k}0..{k}9
#   Allow: /articles/{k}5     LONGER allow flips {k}5 back to kept
#   Disallow: /articles/25    longer disallow beats Allow:/articles/2
#   Allow: /articles/2        for k=2 hosts this is an exact-length TIE
#                             with Disallow:/articles/2 -> allow wins,
#                             so k=2 hosts block nothing (25 ties too,
#                             against Allow:/articles/25)
#   Disallow: /cgi-bin/       matches no path
#   Disallow:                 empty value = no-op marker, dropped
# plus Crawl-delay directives: 99 in the decoy googlebot group (must be
# ignored for '*') and k+1 in the wildcard group (the gated
# web_robots_crawl_delay value — rule parsing must skip these lines),
# and Sitemap: discovery lines (group-INDEPENDENT per sitemaps.org; the
# rules/delay parsers must keep ignoring them — any leak into a prefix
# rule flips those rows' hashes). The second Sitemap line pins
# case-insensitive directive matching AND the cross-host flag; same-k
# cdn hosts mirror the link-graph fixture.
_ROBOTS_K_SQL = ("CAST(CAST(regexp_extract(source, '([0-9]+)', 1) AS INT)"
                 " % 4 AS STRING)")

_ROBOTS_TXT_SQL = (
    "'# robots for ' || source || '.example.com' || chr(10) || "
    "'User-agent: googlebot' || chr(10) || 'Disallow: /' || chr(10) || "
    "'Crawl-delay: 99' || chr(10) "
    "|| chr(10) || "
    "'User-agent: *' || chr(10) || 'User-agent: ccbot' || chr(10) || "
    f"'Crawl-delay: ' || CAST(CAST({_ROBOTS_K_SQL} AS INT) + 1 AS STRING)"
    " || chr(10) || "
    f"'Disallow: /articles/' || {_ROBOTS_K_SQL} || chr(10) || "
    f"'Allow: /articles/' || {_ROBOTS_K_SQL} || '5' || chr(10) || "
    "'Disallow: /articles/25' || chr(10) || "
    "'Allow: /articles/2' || chr(10) || "
    "'Disallow: /cgi-bin/' || chr(10) || "
    "'Disallow:' || chr(10) || "
    "'Sitemap: https://' || source || '.example.com/sm/articles.xml'"
    " || chr(10) || "
    f"(CASE WHEN CAST({_ROBOTS_K_SQL} AS INT) % 2 = 0 THEN "
    f"'SITEMAP: https://cdn' || {_ROBOTS_K_SQL} || "
    "'.example.com/shared/Sitemap.xml' ELSE '' END)")

_ROBOTS_BODY = f"{_ROBOTS_TXT_SQL} AS robots_txt"


def _host_bodies(d, *bodies: str):
    """One row per corpus host: ``host`` plus the planted per-host
    ``bodies`` (SQL text over ``source``, e.g. ``_ROBOTS_BODY``)."""
    return d.select("source").distinct().selectExpr(
        "source || '.example.com' AS host", *bodies)


def _robots_bodies(d):
    """``_host_bodies`` with the planted robots.txt, materialized ONCE
    (host-count sized): the rules and delay derivations read it at
    least twice, and without the cut each read re-executes the
    distinct over the corpus (plan-asserted scan bound in
    tests/test_plans.py)."""
    return materialize(_host_bodies(d, _ROBOTS_BODY))


# Shared robots-rules CTE chain (srcs -> robots -> ... -> hostrules),
# parameterized over the planted body so web_robots_parse / the funnel
# (the precedence fixture) and web_robots_wildcards (the §2.2.3
# fixture) each derive one rule set from their own bodies with ONE
# parse mirror.
def _robots_rules_ctes(txt_sql: str) -> str:
    return f"""
    srcs AS (SELECT DISTINCT source FROM documents),
    robots AS (
      SELECT source || '.example.com' AS host, {txt_sql} AS txt
      FROM srcs),
    rlines AS (
      SELECT host, arr[i] AS line, i AS pos
      FROM (SELECT host, string_split(txt, chr(10)) AS arr FROM robots),
           unnest(range(1, len(arr) + 1)) t(i)),
    rclean AS (
      -- carriage returns dropped before trim, mirroring
      -- functions/robots.py (CRLF bodies; trim strips spaces only)
      SELECT host, pos,
             lower(trim(regexp_replace(replace(line, chr(13), ''),
                                       '#.*$', ''))) AS ln
      FROM rlines),
    rmarked AS (
      SELECT host, pos, ln, starts_with(ln, 'user-agent:') AS is_ua,
             CASE WHEN starts_with(ln, 'user-agent:')
                  AND NOT coalesce(starts_with(
                        lag(ln) OVER (PARTITION BY host ORDER BY pos),
                        'user-agent:'), FALSE)
                  THEN 1 ELSE 0 END AS grp_start
      FROM rclean),
    rgrouped AS (
      SELECT host, pos, ln, is_ua,
             SUM(grp_start) OVER (PARTITION BY host ORDER BY pos) AS grp
      FROM rmarked),
    rwild AS (
      SELECT DISTINCT host, grp FROM rgrouped
      WHERE is_ua AND trim(ln[12:]) = '*'),
    rrules AS (
      -- 'disallow:' is 9 chars, 'allow:' is 6 -> values at 10: / 7:
      SELECT DISTINCT g.host,
             CASE WHEN starts_with(g.ln, 'allow:')
                  THEN trim(g.ln[7:]) ELSE trim(g.ln[10:]) END AS prefix,
             starts_with(g.ln, 'allow:') AS allow
      FROM rgrouped g
      JOIN rwild w ON g.host = w.host AND g.grp = w.grp
      WHERE (starts_with(g.ln, 'disallow:') AND trim(g.ln[10:]) <> '')
         OR (starts_with(g.ln, 'allow:') AND trim(g.ln[7:]) <> '')),
    hostrules AS (
      SELECT host,
             COUNT(CASE WHEN NOT allow THEN 1 END) AS n_disallow,
             COUNT(CASE WHEN allow THEN 1 END) AS n_allow
      FROM rrules GROUP BY host)
"""


_ROBOTS_RULES_CTES = _robots_rules_ctes(_ROBOTS_TXT_SQL)

# RFC 9309 §2.2.2 longest-match verdict over ``parts(doc_id, host,
# path)`` (from _CANON_CTES) x ``rrules``: the longest matching prefix
# decides; an equal-length Allow/Disallow tie resolves to Allow; no
# matching rule -> kept (callers coalesce rbest.blocked to FALSE).
# Mirrors functions/robots.py::apply_robots_rules' (prefix_len, allow)
# struct-max expression relationally.
_ROBOTS_VERDICT_CTES = """
    rmatch AS (
      SELECT p.doc_id, r.allow, length(r.prefix) AS plen
      FROM parts p JOIN rrules r
        ON p.host = r.host AND starts_with(p.path, r.prefix)),
    rbest AS (
      SELECT doc_id,
             NOT bool_or(allow AND plen = maxplen) AS blocked
      FROM (SELECT doc_id, allow, plen,
                   max(plen) OVER (PARTITION BY doc_id) AS maxplen
            FROM rmatch)
      GROUP BY doc_id)
"""


@query(
    "web_robots_parse",
    oracle=f"""
    WITH {_CANON_CTES},
    {_ROBOTS_RULES_CTES},
    {_ROBOTS_VERDICT_CTES},
    tag AS (
      SELECT p.host, p.doc_id, coalesce(rb.blocked, FALSE) AS blocked
      FROM parts p LEFT JOIN rbest rb ON rb.doc_id = p.doc_id),
    agg AS (
      SELECT host, COUNT(*) AS n_docs,
             COUNT(CASE WHEN blocked THEN 1 END) AS n_blocked,
             COUNT(CASE WHEN NOT blocked THEN 1 END) AS n_allowed
      FROM tag GROUP BY host)
    SELECT a.host,
           CAST(a.n_docs AS BIGINT) AS n_docs,
           CAST(a.n_blocked AS BIGINT) AS n_blocked,
           CAST(a.n_allowed AS BIGINT) AS n_allowed,
           CAST(coalesce(hr.n_disallow, 0) AS BIGINT) AS n_disallow,
           CAST(coalesce(hr.n_allow, 0) AS BIGINT) AS n_allow
    FROM agg a LEFT JOIN hostrules hr ON hr.host = a.host
    """,
)
def web_robots_parse(spark, sf_dir):
    """D4 (engine ext.): robots.txt PARSED, not handed in — the step
    before web_robots_filter's allow/deny application: per-host
    ``robots.txt`` bodies (planted, with a decoy googlebot-only group
    whose ``Disallow: /`` must be IGNORED, a multi-agent wildcard
    group, and rules exercising every RFC 9309 §2.2.2 precedence
    behavior — see the fixture comment above _ROBOTS_K_SQL) parse
    into (host, prefix, allow) rules via
    ``functions.robots.robots_rules`` — posexplode + lag-window group
    detection, pure Catalyst — and apply to the canonicalized URL
    stream with LONGEST-MATCH precedence as a broadcast
    filter+array_max over (prefix_len, allow) structs
    (``apply_robots_rules``). The hash pins all three precedence
    outcomes: a longer Allow flips /articles/{{k}}5 back to kept, a
    longer Disallow re-blocks /articles/25 under Allow:/articles/2,
    and k=2 hosts' exact-length ties all resolve to Allow (they block
    nothing). Output per host: doc counts split blocked/allowed plus
    parsed rule counts by kind (3 disallow + 2 allow everywhere — the
    decoy group contributing would block everything, so group
    selection is pinned too; the empty ``Disallow:`` no-op marker must
    be dropped to hit 3).

    Shape: robots parse is host-count sized (one body per host; the
    window exchange moves KBs); the corpus side is ONE narrow
    projection + one host-keyed aggregation — rules ride broadcast, no
    per-rule row multiplication. Reference analog: none (north-star
    crawl-governance surface, RFC 9309)."""
    from clif_spark.functions import robots as robotsfn

    d = io.load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", "source", F.expr(_RAW_URL_SQL).alias("url"))
    urls = raw.select(
        "doc_id",
        urlfn.url_host("url").alias("host"),
        urlfn.url_path("url").alias("path"))
    robots = _robots_bodies(d)
    rules = robotsfn.robots_rules(robots)
    counts = (rules.groupBy("host").agg(
        F.count_if(~F.col("allow")).cast("long").alias("n_disallow"),
        F.count_if(F.col("allow")).cast("long").alias("n_allow")))
    tagged = robotsfn.apply_robots_rules(urls, rules)
    blocked = F.col("robots_blocked")
    return (tagged.groupBy("host")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.count_if(blocked).cast("long").alias("n_blocked"),
                 F.count_if(~blocked).cast("long").alias("n_allowed"))
            .join(counts, "host", "left")
            .select("host", "n_docs", "n_blocked", "n_allowed",
                    F.coalesce("n_disallow", F.lit(0)).cast("long")
                     .alias("n_disallow"),
                    F.coalesce("n_allow", F.lit(0)).cast("long")
                     .alias("n_allow")))


# --- D4e: §2.2.3 wildcard patterns ----------------------------------------

# Planted wildcard bodies (own fixture so the precedence row's hashes
# stay independent): the decoy group again, then for paths
# /articles/0..39 (k = source % 4):
#   Disallow: /articles/*{k}$  (len 14) -> blocks paths ENDING in digit
#                              k: {k, 10+k, 20+k, 30+k}
#   Allow: /articles/3*        (len 12) -> matches 3,30..39 but LOSES to
#                              the longer disallow on 3/13/23/33-type
#                              hits (raw-length specificity for
#                              wildcard rules pinned)
#   Disallow: /articles/*.     (len 12) -> the ESCAPE pin: '.' must be
#                              literal (matches no dotless path); an
#                              unescaped '.' would block everything
#   Disallow: /x*y$            matches nothing
_WILD_TXT_SQL = (
    "'User-agent: googlebot' || chr(10) || 'Disallow: /' || chr(10) "
    "|| chr(10) || "
    "'User-agent: *' || chr(10) || "
    f"'Disallow: /articles/*' || {_ROBOTS_K_SQL} || '$' || chr(10) || "
    "'Allow: /articles/3*' || chr(10) || "
    "'Disallow: /articles/*.' || chr(10) || "
    "'Disallow: /x*y$'")


# DuckDB mirror of functions/robots.py::pattern_regex — NULL for
# wildcard-free values (literal startswith path), else the anchored
# escaped regex.
def _sql_pattern_rx(p: str) -> str:
    body = (f"CASE WHEN suffix({p}, '$') "
            f"THEN substr({p}, 1, length({p})-1) ELSE {p} END")
    esc = (f"regexp_replace({body}, "
           "'([.\\[\\]{}()+?^$|\\\\])', '\\\\\\1', 'g')")
    return (f"CASE WHEN regexp_matches({p}, '\\*') OR suffix({p}, '$') "
            f"THEN '^' || replace({esc}, '*', '.*') || "
            f"CASE WHEN suffix({p}, '$') THEN '$' ELSE '' END END")


@query(
    "web_robots_wildcards",
    oracle=f"""
    WITH {_CANON_CTES},
    {_robots_rules_ctes(_WILD_TXT_SQL)},
    rrx AS (
      SELECT host, prefix, allow, length(prefix) AS plen,
             {_sql_pattern_rx('prefix')} AS rx
      FROM rrules),
    rmt AS (
      SELECT p.doc_id, r.allow, r.plen
      FROM parts p JOIN rrx r ON p.host = r.host
       AND (CASE WHEN r.rx IS NULL THEN starts_with(p.path, r.prefix)
                 ELSE regexp_matches(p.path, r.rx) END)),
    rb AS (
      SELECT doc_id, NOT bool_or(allow AND plen = maxplen) AS blocked
      FROM (SELECT doc_id, allow, plen,
                   max(plen) OVER (PARTITION BY doc_id) AS maxplen
            FROM rmt)
      GROUP BY doc_id)
    SELECT p.host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN coalesce(rb.blocked, FALSE) THEN 1 END)
                AS BIGINT) AS n_blocked,
           CAST(COUNT(CASE WHEN NOT coalesce(rb.blocked, FALSE) THEN 1
                END) AS BIGINT) AS n_allowed
    FROM parts p LEFT JOIN rb ON rb.doc_id = p.doc_id
    GROUP BY p.host
    """,
)
def web_robots_wildcards(spark, sf_dir):
    """D4e (engine ext.): RFC 9309 §2.2.3 special characters gated
    end-to-end — ``*`` spans character runs, a trailing ``$`` anchors
    the end, regex metacharacters in rule values stay literal
    (pattern_regex escapes them: the planted ``/articles/*.`` must
    match NO dotless path, while an unescaped dot would block every
    document and flip the hash), and specificity stays the RAW
    rule-value length for wildcard and literal rules alike (the
    longer wildcard disallow beats the shorter wildcard allow on
    their overlap). Wildcard-free rules keep the literal startswith
    fast path — this row's bodies are all-wildcard precisely so the
    regex leg carries the hash.

    Shape: identical to web_robots_parse — host-sized parse +
    translation, broadcast rules, one narrow corpus projection + one
    host aggregation; the regex evaluation multiplies per-rule
    constant work into the fused projection, never rows."""
    from clif_spark.functions import robots as robotsfn

    d = io.load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", "source", F.expr(_RAW_URL_SQL).alias("url"))
    urls = raw.select(
        "doc_id",
        urlfn.url_host("url").alias("host"),
        urlfn.url_path("url").alias("path"))
    robots = materialize(
        _host_bodies(d, f"{_WILD_TXT_SQL} AS robots_txt"))
    rules = robotsfn.robots_rules(robots)
    tagged = robotsfn.apply_robots_rules(urls, rules)
    blocked = F.col("robots_blocked")
    return (tagged.groupBy("host")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.count_if(blocked).cast("long").alias("n_blocked"),
                 F.count_if(~blocked).cast("long").alias("n_allowed")))


def _sql_canon_of(u: str) -> dict[str, str]:
    """scheme/host/path/canon SQL expressions for an arbitrary
    fragment-stripped URL expression — mirrors functions/url.py (and
    the documents-bound _CANON_CTES) expression for expression, for
    oracles whose URL column is not the documents fixture."""
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    auth = (f"lower(regexp_extract({u}, "
            f"'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))")
    host = (f"regexp_replace(CASE {scheme} "
            f"WHEN 'http' THEN regexp_replace({auth}, ':80$', '') "
            f"WHEN 'https' THEN regexp_replace({auth}, ':443$', '') "
            f"ELSE {auth} END, '^www\\.', '')")
    rawp = (f"regexp_extract({u}, "
            f"'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)")
    path = _sql_pct(f"regexp_replace(CASE WHEN {rawp} = '' THEN '/' "
                    f"ELSE {rawp} END, '^(.+?)/+$', '\\1')")
    # coalesce: DuckDB's array_to_string of an EMPTY list is NULL where
    # Spark's array_join is '' — a query-less URL would otherwise NULL
    # the whole concat (the documents-bound _CANON_CTES never hits this
    # because every planted doc URL carries a query). Params are
    # percent-normalized BEFORE the tracking filter + sort (§6.2.2).
    qs = (f"coalesce(array_to_string(list_sort(list_filter("
          f"list_transform(string_split("
          f"regexp_extract({u}, '\\?([^#]*)', 1), '&'), "
          f"x -> {_sql_pct('x')}), "
          f"x -> x <> '' AND NOT starts_with(split_part(x, '=', 1), "
          f"'utm_') AND split_part(x, '=', 1) <> 'fbclid')), '&'), '')")
    canon = (f"{scheme} || '://' || {host} || {path} || "
             f"(CASE WHEN {qs} = '' THEN '' ELSE '?' || {qs} END)")
    return {"scheme": scheme, "host": host, "path": path, "canon": canon}


# --- D7: sitemap parsing -> robots-gated crawl seeds ----------------------

# Planted sitemap.xml per host (k = source % 4): four <url> entries —
# one full entry (lastmod + priority 0.{k+1}), one without a priority
# (must default to 0.5), one robots-blocked by the /cgi-bin/ rule, and
# one with WHITESPACE + newlines around <loc> (must trim; it also hits
# the /articles/25 precedence split: blocked everywhere except k=2
# hosts, whose equal-length Allow wins). Entries span lines, so the
# block extraction needs dotall — both regex engines take (?s).
_SITEMAP_SQL = (
    "'<?xml version=\"1.0\" encoding=\"UTF-8\"?>' || chr(10) || "
    "'<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">'"
    " || chr(10) || "
    "'<url><loc>https://' || source || '.example.com/articles/' || "
    f"{_ROBOTS_K_SQL} || '</loc>' || "
    f"'<lastmod>2026-0' || CAST(CAST({_ROBOTS_K_SQL} AS INT) + 1 "
    "AS STRING) || '-15</lastmod>' || "
    f"'<priority>0.' || CAST(CAST({_ROBOTS_K_SQL} AS INT) + 1 "
    "AS STRING) || '</priority></url>' || chr(10) || "
    "'<url><loc>https://' || source || '.example.com/articles/1' || "
    f"{_ROBOTS_K_SQL} || '</loc></url>' || chr(10) || "
    "'<url><loc>https://' || source || "
    "'.example.com/cgi-bin/tool</loc><priority>1.0</priority></url>'"
    " || chr(10) || "
    "'<url>' || chr(10) || '  <loc> https://' || source || "
    "'.example.com/articles/25 </loc>' || chr(10) || '</url>' || "
    "chr(10) || '</urlset>'")


@query(
    "web_sitemap_parse",
    oracle=f"""
    WITH {_ROBOTS_RULES_CTES},
    smsrc AS (SELECT DISTINCT source FROM documents),
    smaps AS (
      SELECT source || '.example.com' AS host, {_SITEMAP_SQL} AS xml
      FROM smsrc),
    blocks AS (
      SELECT host, unnest(
        regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS b
      FROM smaps),
    entries AS (
      SELECT host,
             trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)) AS loc,
             nullif(regexp_extract(b,
               '(?s)<lastmod>(.*?)</lastmod>', 1), '') AS lastmod,
             CAST(CAST(coalesce(nullif(regexp_extract(b,
               '(?s)<priority>(.*?)</priority>', 1), ''), '0.5')
               AS DECIMAL(7,6)) * 1000000 AS BIGINT) AS priority_micros
      FROM blocks),
    seeds AS (
      SELECT host, loc,
             {_sql_canon_of('loc')['path']} AS path,
             lastmod, priority_micros
      FROM entries),
    smt AS (
      SELECT s.loc, s.host, r.allow, length(r.prefix) AS plen
      FROM seeds s JOIN rrules r
        ON s.host = r.host AND starts_with(s.path, r.prefix)),
    sb AS (
      SELECT loc, host,
             NOT bool_or(allow AND plen = maxplen) AS blocked
      FROM (SELECT loc, host, allow, plen,
                   max(plen) OVER (PARTITION BY host, loc) AS maxplen
            FROM smt)
      GROUP BY loc, host)
    SELECT s.host, s.loc, s.lastmod,
           s.priority_micros,
           coalesce(sb.blocked, FALSE) AS robots_blocked
    FROM seeds s
    LEFT JOIN sb ON sb.host = s.host AND sb.loc = s.loc
    """,
)
def web_sitemap_parse(spark, sf_dir):
    """D7 (engine ext.): sitemap.xml parsing — the crawl-SEEDING side
    of discovery (sitemaps feed the frontier alongside extracted
    links; sitemaps.org protocol): per-host XML bodies parse into seed
    entries via one dotall block extraction + per-field regexps (pure
    Catalyst — no XML library in the hot path, exactly like the
    HTML→text rule set), with protocol semantics pinned observably:
    whitespace-padded ``<loc>`` trims, a missing ``<priority>``
    defaults to 0.5, and priorities land in EXACT integer micros
    (decimal cast, not double — ``0.3`` must be 300000, not 299999).
    Each seed then carries the robots longest-match verdict from the
    SAME rule set the corpus rows use — the planted /cgi-bin/ seed is
    blocked everywhere, and the /articles/25 seed flips allowed on
    exactly the k=2 hosts whose equal-length Allow wins the tie.

    Shape: sitemaps are host-count sized end to end (one body per
    host; parse, verdict, and output all host-scale — the ONLY
    corpus-touching work is the source distinct feeding the planted
    bodies; the robots rules read theirs twice, so only it is cut).
    Reference analog: none (north-star crawl-governance surface)."""
    from clif_spark.functions import robots as robotsfn

    d = io.load_table(spark, sf_dir, "documents")
    smaps = _host_bodies(d, f"{_SITEMAP_SQL} AS xml")
    blocks = smaps.select(
        "host",
        F.explode(F.regexp_extract_all(
            "xml", F.lit(r"(?s)<url>(.*?)</url>"), F.lit(1))).alias("b"))
    prio = F.coalesce(
        F.nullif(F.regexp_extract(
            "b", r"(?s)<priority>(.*?)</priority>", 1), F.lit("")),
        F.lit("0.5"))
    entries = blocks.select(
        "host",
        F.trim(F.regexp_extract("b", r"(?s)<loc>(.*?)</loc>", 1))
         .alias("loc"),
        F.nullif(F.regexp_extract("b", r"(?s)<lastmod>(.*?)</lastmod>",
                                  1), F.lit("")).alias("lastmod"),
        (prio.cast("decimal(7,6)") * 1000000).cast("long")
         .alias("priority_micros"))
    seeds = entries.withColumn("path", urlfn.url_path("loc"))
    robots = _robots_bodies(d)
    rules = robotsfn.robots_rules(robots)
    return (robotsfn.apply_robots_rules(seeds, rules)
            .select("host", "loc", "lastmod", "priority_micros",
                    "robots_blocked"))


# --- D7b: two-level sitemap INDEX files ----------------------------------

# Planted sitemapindex per host (k = source % 4): an index listing the
# host's child sitemaps — articles.xml (with an index-level lastmod),
# news.xml (whitespace-padded <loc>, no lastmod -> NULL), and on even-k
# hosts a third child extra.xml. Child bodies are keyed by (host,
# child name): articles carries two entries (one with a priority, one
# defaulting to 0.5), news one entry with its own lastmod, extra one
# entry. The "fetch" of a child is a deterministic body derivation
# from its loc — the protocol plumbing (two chained dotall
# block-parses, index provenance carried onto every leaf entry) is the
# real artifact, exactly like the WARC fixtures.
_SMIDX_SQL = (
    "'<?xml version=\"1.0\"?>' || chr(10) || '<sitemapindex>' || "
    "chr(10) || "
    "'<sitemap><loc>https://' || source || "
    "'.example.com/sm/articles.xml</loc>' || "
    f"'<lastmod>2026-05-0' || CAST(CAST({_ROBOTS_K_SQL} AS INT) + 1 "
    "AS STRING) || '</lastmod></sitemap>' || chr(10) || "
    "'<sitemap>' || chr(10) || '  <loc> https://' || source || "
    "'.example.com/sm/news.xml </loc>' || chr(10) || '</sitemap>' || "
    "chr(10) || "
    f"(CASE WHEN CAST({_ROBOTS_K_SQL} AS INT) % 2 = 0 THEN "
    "'<sitemap><loc>https://' || source || "
    "'.example.com/sm/extra.xml</loc></sitemap>' || chr(10) "
    "ELSE '' END) || '</sitemapindex>'")

_SMCHILD_SQL = (
    "(CASE cname "
    "WHEN 'articles' THEN "
    "'<urlset><url><loc>https://' || host || '/articles/' || ck || "
    "'</loc><priority>0.' || CAST(CAST(ck AS INT) + 1 AS STRING) || "
    "'</priority></url>' || chr(10) || "
    "'<url><loc>https://' || host || '/articles/9' || ck || "
    "'</loc></url></urlset>' "
    "WHEN 'news' THEN "
    "'<urlset><url><loc>https://' || host || '/news/' || ck || "
    "'</loc><lastmod>2026-06-2' || ck || '</lastmod></url></urlset>' "
    "ELSE '<urlset><url><loc>https://' || host || "
    "'/extra/0</loc></url></urlset>' END)")


@query(
    "web_sitemap_index",
    oracle=f"""
    WITH smsrc AS (SELECT DISTINCT source FROM documents),
    idx AS (
      SELECT source, source || '.example.com' AS host,
             {_SMIDX_SQL} AS xml,
             {_ROBOTS_K_SQL} AS ck
      FROM smsrc),
    smblocks AS (
      SELECT host, ck, unnest(regexp_extract_all(xml,
        '(?s)<sitemap>(.*?)</sitemap>', 1)) AS b
      FROM idx),
    children AS (
      SELECT host, ck,
             trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1))
               AS sitemap_loc,
             nullif(regexp_extract(b,
               '(?s)<lastmod>(.*?)</lastmod>', 1), '') AS index_lastmod
      FROM smblocks),
    fetched AS (
      SELECT host, sitemap_loc, index_lastmod,
             regexp_extract(sitemap_loc, '/sm/([a-z]+)\\.xml$', 1)
               AS cname, ck
      FROM children),
    bodies AS (
      SELECT host, sitemap_loc, index_lastmod,
             {_SMCHILD_SQL} AS body
      FROM fetched),
    leaf AS (
      SELECT host, sitemap_loc, index_lastmod, unnest(
        regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)) AS ub
      FROM bodies)
    SELECT host, sitemap_loc,
           trim(regexp_extract(ub, '(?s)<loc>(.*?)</loc>', 1)) AS loc,
           nullif(regexp_extract(ub,
             '(?s)<lastmod>(.*?)</lastmod>', 1), '') AS lastmod,
           CAST(CAST(coalesce(nullif(regexp_extract(ub,
             '(?s)<priority>(.*?)</priority>', 1), ''), '0.5')
             AS DECIMAL(7,6)) * 1000000 AS BIGINT) AS priority_micros,
           index_lastmod
    FROM leaf
    """,
)
def web_sitemap_index(spark, sf_dir):
    """D7b (engine ext.): two-level sitemap INDEX resolution — large
    sites publish a ``<sitemapindex>`` of child sitemap files (the
    sitemaps.org protocol caps one file at 50k URLs / 50 MB, so any
    big host indexes): index parse -> child-sitemap discovery (trimmed
    ``<loc>``, optional per-child ``<lastmod>`` -> NULL when absent)
    -> child fetch (planted deterministic bodies keyed off the child
    loc, like every fixture 'fetch') -> child urlset parse, with the
    index provenance (which child file, its index lastmod) carried
    onto every leaf entry — what an incremental recrawler keys on to
    skip unchanged child files. Priorities in exact integer micros
    (decimal cast), missing priority defaults 0.5, exactly like the
    single-level row.

    Shape: host-count sized end to end — one corpus source-distinct,
    then two chained narrow dotall block-parses (index -> children ->
    entries); zero corpus-keyed exchanges, no XML library, no Python.
    At 100 TB the child-count fan-out is bounded by the protocol's
    50k-per-file cap, and a real fetch step would slot in as a
    per-child source read at child-file-count parallelism."""
    d = io.load_table(spark, sf_dir, "documents")
    idx = _host_bodies(d, f"{_SMIDX_SQL} AS xml",
                       f"{_ROBOTS_K_SQL} AS ck")
    blocks = idx.select(
        "host", "ck",
        F.explode(F.regexp_extract_all(
            "xml", F.lit(r"(?s)<sitemap>(.*?)</sitemap>"),
            F.lit(1))).alias("b"))
    children = blocks.select(
        "host", "ck",
        F.trim(F.regexp_extract("b", r"(?s)<loc>(.*?)</loc>", 1))
         .alias("sitemap_loc"),
        F.nullif(F.regexp_extract("b", r"(?s)<lastmod>(.*?)</lastmod>",
                                  1), F.lit("")).alias("index_lastmod"))
    fetched = children.withColumn(
        "cname",
        F.regexp_extract("sitemap_loc", r"/sm/([a-z]+)\.xml$", 1))
    bodies = fetched.select(
        "host", "sitemap_loc", "index_lastmod",
        F.expr(_SMCHILD_SQL).alias("body"))
    leaf = bodies.select(
        "host", "sitemap_loc", "index_lastmod",
        F.explode(F.regexp_extract_all(
            "body", F.lit(r"(?s)<url>(.*?)</url>"), F.lit(1)))
         .alias("ub"))
    prio = F.coalesce(
        F.nullif(F.regexp_extract(
            "ub", r"(?s)<priority>(.*?)</priority>", 1), F.lit("")),
        F.lit("0.5"))
    return leaf.select(
        "host", "sitemap_loc",
        F.trim(F.regexp_extract("ub", r"(?s)<loc>(.*?)</loc>", 1))
         .alias("loc"),
        F.nullif(F.regexp_extract("ub", r"(?s)<lastmod>(.*?)</lastmod>",
                                  1), F.lit("")).alias("lastmod"),
        (prio.cast("decimal(7,6)") * 1000000).cast("long")
         .alias("priority_micros"),
        "index_lastmod")


# --- D4c: agent-specific group selection with wildcard fallback ----------


def _sql_agent_verdict(agent: str, tag: str) -> str:
    """RFC 9309 §2.2.1 selection + §2.2.2 longest-match verdict mirror,
    parameterized over the agent token: groups naming the token exactly
    are the match; hosts with no such group fall back to their ``*``
    groups. Assumes ``rgrouped`` and ``parts``; ends in
    ``rb_{tag}(doc_id, blocked)`` — mirrors
    functions/robots.py::_selected_groups + apply_robots_rules."""
    # the token lands inside SQL string literals — keep it to the safe
    # product-token alphabet (fixture tokens only; not user input).
    # A real raise, not `assert`: asserts are compiled out under -O and
    # this is the injection boundary (ADVICE r11).
    if not agent.replace("-", "").replace("_", "").isalnum():
        raise ValueError(f"unsafe agent token for SQL splice: {agent!r}")
    return f"""
    rmatch_{tag} AS (
      SELECT DISTINCT host, grp,
             (trim(ln[12:]) = '{agent}') AS specific
      FROM rgrouped
      WHERE is_ua AND trim(ln[12:]) IN ('{agent}', '*')),
    rsel_{tag} AS (
      SELECT m.host, m.grp
      FROM rmatch_{tag} m
      JOIN (SELECT host, max(specific) AS hs
            FROM rmatch_{tag} GROUP BY host) f ON f.host = m.host
      WHERE m.specific = f.hs),
    rules_{tag} AS (
      SELECT DISTINCT g.host,
             CASE WHEN starts_with(g.ln, 'allow:')
                  THEN trim(g.ln[7:]) ELSE trim(g.ln[10:]) END AS prefix,
             starts_with(g.ln, 'allow:') AS allow
      FROM rgrouped g
      JOIN rsel_{tag} w ON g.host = w.host AND g.grp = w.grp
      WHERE (starts_with(g.ln, 'disallow:') AND trim(g.ln[10:]) <> '')
         OR (starts_with(g.ln, 'allow:') AND trim(g.ln[7:]) <> '')),
    rmt_{tag} AS (
      SELECT p.doc_id, r.allow, length(r.prefix) AS plen
      FROM parts p JOIN rules_{tag} r
        ON p.host = r.host AND starts_with(p.path, r.prefix)),
    rb_{tag} AS (
      SELECT doc_id,
             NOT bool_or(allow AND plen = maxplen) AS blocked
      FROM (SELECT doc_id, allow, plen,
                   max(plen) OVER (PARTITION BY doc_id) AS maxplen
            FROM rmt_{tag})
      GROUP BY doc_id)"""


@query(
    "web_robots_agent_fallback",
    oracle=f"""
    WITH {_CANON_CTES},
    {_ROBOTS_RULES_CTES},
    {_sql_agent_verdict('googlebot', 'g')},
    {_sql_agent_verdict('newsbot', 'n')},
    {_sql_agent_verdict('ccbot', 'c')}
    SELECT p.host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN coalesce(g.blocked, FALSE) THEN 1 END)
                AS BIGINT) AS blocked_googlebot,
           CAST(COUNT(CASE WHEN coalesce(n.blocked, FALSE) THEN 1 END)
                AS BIGINT) AS blocked_newsbot,
           CAST(COUNT(CASE WHEN coalesce(c.blocked, FALSE) THEN 1 END)
                AS BIGINT) AS blocked_ccbot
    FROM parts p
    LEFT JOIN rb_g g ON g.doc_id = p.doc_id
    LEFT JOIN rb_n n ON n.doc_id = p.doc_id
    LEFT JOIN rb_c c ON c.doc_id = p.doc_id
    GROUP BY p.host
    """,
)
def web_robots_agent_fallback(spark, sf_dir):
    """D4c (engine ext.): RFC 9309 §2.2.1 group SELECTION, gated from
    three perspectives over the same planted bodies:

    - ``googlebot`` has its own section → the specific group governs
      (its ``Disallow: /`` blocks every doc — the wildcard group's
      rules must NOT leak in);
    - ``newsbot`` has no section → FALLS BACK to the ``*`` groups (the
      pre-round-11 exact-token rule selected zero groups here and
      silently under-blocked to nothing — this column pins the
      fallback);
    - ``ccbot`` is named inside the multi-agent wildcard group → it is
      a SPECIFIC match of that same group (same verdicts as the
      fallback column; the extra ``*`` line in the group must not
      change anything).

    Shape: three broadcast verdict applications over one narrow URL
    projection — selection work is host-count sized (one extra
    host-keyed max per agent)."""
    from clif_spark.functions import robots as robotsfn

    d = io.load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", "source", F.expr(_RAW_URL_SQL).alias("url"))
    urls = raw.select(
        "doc_id",
        urlfn.url_host("url").alias("host"),
        urlfn.url_path("url").alias("path"))
    robots = _robots_bodies(d)
    df = urls
    for agent in ("googlebot", "newsbot", "ccbot"):
        rules = robotsfn.robots_rules(robots, agent=agent)
        df = (robotsfn.apply_robots_rules(df, rules)
              .withColumnRenamed("robots_blocked", f"b_{agent}"))
    return df.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("b_googlebot")).cast("long")
         .alias("blocked_googlebot"),
        F.count_if(F.col("b_newsbot")).cast("long")
         .alias("blocked_newsbot"),
        F.count_if(F.col("b_ccbot")).cast("long")
         .alias("blocked_ccbot"))


@query(
    "web_robots_crawl_delay",
    oracle=f"""
    WITH {_CANON_CTES},
    {_ROBOTS_RULES_CTES},
    rdelay AS (
      -- CEILING of the decimal value, mirroring
      -- functions/robots.py::robots_crawl_delay (a bare string->BIGINT
      -- cast rounds differently across engines on fractional delays)
      SELECT g.host,
             MAX(CAST(ceil(TRY_CAST(trim(g.ln[13:]) AS DECIMAL(18,6)))
                 AS BIGINT)) AS crawl_delay_s
      FROM rgrouped g JOIN rwild w ON g.host = w.host AND g.grp = w.grp
      WHERE starts_with(g.ln, 'crawl-delay:')
        AND TRY_CAST(trim(g.ln[13:]) AS DECIMAL(18,6)) IS NOT NULL
      GROUP BY g.host),
    hd AS (SELECT host, COUNT(*) AS n_docs FROM parts GROUP BY host)
    SELECT h.host,
           CAST(h.n_docs AS BIGINT) AS n_docs,
           CAST(d.crawl_delay_s AS BIGINT) AS crawl_delay_s,
           CAST((h.n_docs * d.crawl_delay_s + 3599) // 3600 AS BIGINT)
             AS est_crawl_hours
    FROM hd h JOIN rdelay d ON d.host = h.host
    """,
)
def web_robots_crawl_delay(spark, sf_dir):
    """D4d (engine ext.): the ``Crawl-delay:`` directive parsed from the
    agent's selected groups (functions.robots.robots_crawl_delay — same
    §2.2.1 selection + fallback as the rule parser; the decoy
    googlebot group's delay of 99 must be ignored for ``*``) and turned
    into the crawl-planning relation schedulers actually need: per
    host, the delay, the known doc count, and the serial fetch-time
    estimate in whole hours (exact integer ceiling division — both
    engines compute it in BIGINT).

    Shape: directive parse is host-count sized; the doc count is one
    host-keyed aggregation; the join is host-to-host."""
    from clif_spark.functions import robots as robotsfn

    d = io.load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", "source", F.expr(_RAW_URL_SQL).alias("url"))
    hd = (raw.select(urlfn.url_host("url").alias("host"))
          .groupBy("host")
          .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    robots = _robots_bodies(d)
    delays = robotsfn.robots_crawl_delay(robots)
    return (hd.join(delays, "host")
            .select("host", "n_docs",
                    F.col("crawl_delay_s").cast("long")
                     .alias("crawl_delay_s"),
                    F.expr("(n_docs * crawl_delay_s + 3599) div 3600")
                     .cast("long").alias("est_crawl_hours")))


# --- S9b: request/response/metadata record pairing -----------------------


@query(
    "warc_record_pairing",
    oracle="""
    -- Real Common Crawl files interleave request + metadata records
    -- with each response; the pairing (target_uri join WITHIN a file)
    -- must reunite fetch status, MIME, and fetch timing per URI. The
    -- oracle is the documents table directly: every planted record
    -- type must survive the container and land with its siblings.
    SELECT doc_id,
           CAST(200 AS BIGINT) AS http_status,
           'text/html; charset=utf-8' AS mime,
           CAST(100 + doc_id % 900 AS BIGINT) AS fetch_time_ms,
           TRUE AS has_request,
           CAST(3 AS BIGINT) AS n_records
    FROM documents
    """,
)
def warc_record_pairing(spark, sf_dir):
    """S9b (engine ext.): the full Common Crawl record mix — each doc's
    response is interleaved with its REQUEST record (the HTTP envelope
    sent, ``application/http;msgtype=request``) and its METADATA record
    (``application/warc-fields`` carrying fetchTimeMs), in crawl order
    (request, response, metadata) inside mixed plain/gzip files. The
    parser reads all three generically (response-only path untouched);
    pairing is ONE aggregation keyed (file_id, target_uri) — the
    within-file join a WARC consumer runs to reunite a fetch's status,
    MIME, and timing, group state bounded by records-per-uri (3).

    100 TB shape: parse parallelism = file count as everywhere on the
    WARC leg; the pairing shuffles (file, uri, 3 small columns) — not
    payloads — and at production sizes the groupBy key is
    file-co-located by construction, so AQE-coalesced exchanges stay
    uri-count sized."""
    d = io.load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "text", "source", F.expr(_DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % _shard_count(d)).alias("file_id"))
    req_payload = F.concat(
        F.lit("GET /"), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit(" HTTP/1.1" + "\r\n" + "Host: corpus.example"
              + "\r\n" + "\r\n"))
    meta_payload = F.concat(
        F.lit("fetchTimeMs: "),
        (F.lit(100) + F.col("doc_id") % 900).cast("string"),
        F.lit("\r\n"))
    ordn = F.col("doc_id") * 4  # crawl order: request, response, metadata
    legs = [
        warc.build_warc_aux_records(
            docs.withColumn("p", req_payload), "request", "p",
            content_type="application/http;msgtype=request")
        .select("file_id", ordn.alias("ord"), "record"),
        warc.build_warc_records(docs)
        .select("file_id", (ordn + 1).alias("ord"), "record"),
        warc.build_warc_aux_records(
            docs.withColumn("p", meta_payload), "metadata", "p")
        .select("file_id", (ordn + 2).alias("ord"), "record"),
    ]
    mixed = legs[0].unionByName(legs[1]).unionByName(legs[2])
    files = warc.assemble_warc_files(mixed, order_col="ord",
                                     gzip_records="mixed")
    parsed = warc.parse_warc(files)
    tp = F.col("warc_type")
    paired = parsed.groupBy("file_id", "target_uri").agg(
        F.max(F.when(tp == "response", F.col("http_status")))
         .cast("long").alias("http_status"),
        F.max(F.when(tp == "response", F.col("http_content_type")))
         .alias("mime"),
        F.max(F.when(tp == "metadata", F.regexp_extract(
            "payload_text", r"fetchTimeMs: (\d+)", 1).cast("long")))
         .alias("fetch_time_ms"),
        (F.count_if(tp == "request") > 0).alias("has_request"),
        F.count(F.lit(1)).cast("long").alias("n_records"))
    return paired.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
         .alias("doc_id"),
        "http_status", "mime", "fetch_time_ms", "has_request",
        "n_records")


# --- D5: link extraction -> host link graph -> PageRank ------------------

# Planted link pages (separate from the shared extraction template so
# the html-extract oracles stay untouched): every page lives at base
# path /a/{m}/page (m = doc_id % 40) — EXCEPT every seventh doc, whose
# base path is EMPTY (the page URL is just scheme://host, ADVICE r11's
# §5.3 empty-base case) — and links its host's successor (absolute
# URL); every third source also self-links root-relative.
# The resolver fixtures (RFC 3986 §5 reference resolution,
# functions/url.py), each observable in the (dst_host, n_links,
# n_urls) hash:
#   https://src{..}/dot/../p/{m}  (every n%4==0 source) absolute WITH
#                        dot segments — §5.2.2 applies to the absolute
#                        branch too (r12): must collapse to /p/{m}; a
#                        passthrough keeps /dot/../ and flips n_urls.
#                        Subset-planted so the fixture keeps a
#                        clean-href majority (the collapse fast-path
#                        gate stays representative at measured scale)
#   ../up/{m}            relative with dot-dot -> /a/up/{m} (self
#                        edge); on empty-base docs the §5.3 merge makes
#                        it /up/{m} (a bare concat would yield a
#                        malformed hostless path)
#   /a/{m}/../up/{m}     (every n%3==1 source) root-relative WITH dot
#                        segments -> collapses to the SAME /a/up/{m} —
#                        the n_urls distinct-URL count pins the
#                        collapse (a non-popping `..` would double it)
#   ./sub/{m}?id={m}     dot-segment + directory splice, query kept
#   //cdn{n%5}.example.com/dl/../x   (every n%2==0 source)
#                        protocol-relative -> base scheme, dot
#                        segments collapsed (-> /x; odd sources link
#                        /x directly — same URL either way iff the
#                        collapse works)
#   mailto: / ?q=1       non-hierarchical -> dropped
# Out-degrees land at 3-5 with cdn hosts as dangling sinks — real
# structure for PageRank to converge on.
_SRC_N = "CAST(regexp_extract(source, '([0-9]+)', 1) AS INT)"
_M_SQL = "CAST(doc_id % 40 AS STRING)"
# The % 20 ring modulus below caps the host-graph diameter well under
# FIXPOINT_MAX_ITERS; the recursive oracles bound their recursion at
# that SAME constant, so growing the ring past the budget fails both
# sides loudly (engine RuntimeError) instead of silently truncating
# the oracle's closure (ADVICE r12).

_LINK_PAGE_SQL = (
    "'<html><body><a href=\"https://src' || "
    f"CAST(({_SRC_N} + 1) % 20 AS STRING) || "
    f"'.example.com' || (CASE WHEN {_SRC_N} % 4 = 0 THEN '/dot/..' "
    f"ELSE '' END) || '/p/' || {_M_SQL} || '\">n</a>' || "
    f"(CASE WHEN {_SRC_N} % 3 = 0 THEN "
    f"'<a href=\"/local/' || {_M_SQL} || '\">s</a>' "
    "ELSE '' END) || "
    f"'<a href=\"../up/' || {_M_SQL} || '\">u</a>' || "
    f"(CASE WHEN {_SRC_N} % 3 = 1 THEN "
    f"'<a href=\"/a/' || {_M_SQL} || '/../up/' || {_M_SQL} || '\">v</a>' "
    "ELSE '' END) || "
    f"'<a href=\"./sub/' || {_M_SQL} || '?id=' || {_M_SQL} || '\">w</a>' || "
    f"'<a href=\"//cdn' || CAST({_SRC_N} % 5 AS STRING) || "
    f"'.example.com' || (CASE WHEN {_SRC_N} % 2 = 0 THEN '/dl/..' "
    "ELSE '' END) || '/x\">c</a>' || "
    "'<a href=\"mailto:x@y\">m</a><a href=\"?q=1\">q</a>'"
    " || '</body></html>'")


# Every seventh doc has the EMPTY base path (page URL is bare
# scheme://host): its relative hrefs exercise the RFC 3986 §5.3
# empty-base merge ('/' + ref), ADVICE r11.
_LINK_BASE_PATH_SQL = (f"(CASE WHEN doc_id % 7 = 0 THEN '' "
                       f"ELSE '/a/' || {_M_SQL} || '/page' END)")


def _sql_collapse(expr: str) -> str:
    """DuckDB mirror of functions/url.py::collapse_dot_segments — the
    same dot-segment gate (_DOTSEG_RE: clean paths pass through
    verbatim) and the same string-accumulator left fold (list_reduce
    with a prepended '' initial), kept in sync rule for rule."""
    folded = (f"list_reduce(list_prepend('', string_split({expr}, '/')), "
              "(acc, s) -> CASE WHEN s = '' OR s = '.' THEN acc "
              "WHEN s = '..' THEN regexp_replace(acc, '/[^/]*$', '') "
              "ELSE acc || '/' || s END)")
    collapsed = f"(CASE WHEN {folded} = '' THEN '/' ELSE {folded} END)"
    return (f"(CASE WHEN regexp_matches({expr}, '(^|/)\\.\\.?(/|$)|//') "
            f"THEN {collapsed} ELSE {expr} END)")


# resolved.u mirrors functions/url.py::resolve_href case for case
# (fragment strip; absolute rebuilt with its path collapsed;
# protocol-relative rebuilt on the base scheme with its path collapsed;
# root-relative + collapse; non-hierarchical NULL; relative §5.3 merge
# — leading-slash guard for empty base dirs — + collapse).
_LINK_EDGES_CTES = f"""
    pages AS (
      SELECT doc_id, source || '.example.com' AS src_host,
             {_LINK_BASE_PATH_SQL} AS base_path,
             {_LINK_PAGE_SQL} AS html
      FROM documents),
    hrefs AS (
      SELECT doc_id, src_host, base_path, unnest(
        regexp_extract_all(html, 'href="([^"]+)"', 1)) AS href
      FROM pages),
    hclean AS (
      SELECT doc_id, src_host, base_path,
             regexp_replace(href, '#.*$', '') AS h
      FROM hrefs),
    hparts AS (
      SELECT doc_id, src_host, base_path, h,
             regexp_extract(h, '^([^?#]*)', 1) AS rel_path,
             regexp_extract(h, '(\\?[^#]*)', 1) AS rel_qs,
             regexp_replace(base_path, '[^/]*$', '') AS base_dir,
             regexp_extract(h,
               '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS abs_pre,
             regexp_extract(h,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
               AS abs_path,
             regexp_extract(h, '^//([^/?#]*)', 1) AS pr_auth,
             regexp_extract(h, '^//[^/?#]*([^?#]*)', 1) AS pr_path
      FROM hclean),
    hmerged AS (
      -- RFC 3986 section-5.3 merge: empty/slash-less base dir merges
      -- as '/' + ref (mirrors resolve_href's leading-slash guard)
      SELECT *, (CASE WHEN starts_with(base_dir || rel_path, '/')
                      THEN base_dir || rel_path
                      ELSE '/' || base_dir || rel_path END) AS merged
      FROM hparts),
    resolved AS (
      SELECT doc_id, src_host,
             CASE
               WHEN h = '' THEN NULL
               WHEN regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*://')
                 THEN abs_pre || {_sql_collapse('abs_path')} || rel_qs
               WHEN starts_with(h, '//')
                 THEN 'https://' || pr_auth
                      || {_sql_collapse('pr_path')} || rel_qs
               WHEN starts_with(h, '/')
                 THEN 'https://' || src_host
                      || {_sql_collapse('rel_path')} || rel_qs
               WHEN regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:')
                    OR starts_with(h, '?') THEN NULL
               ELSE 'https://' || src_host
                    || {_sql_collapse('merged')} || rel_qs
             END AS u
      FROM hmerged),
    linkedges AS (
      SELECT src_host,
             lower(regexp_extract(u,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS dst_host,
             u
      FROM resolved WHERE u IS NOT NULL)
"""


def _link_urls(spark, sf_dir):
    """Shared (src_host, u) resolved-link relation for the D5 rows:
    pages -> href explode -> full RFC 3986 reference resolution against
    the page's scheme/host/base-path (functions.url.resolve_href)."""
    d = io.load_table(spark, sf_dir, "documents")
    pages = d.selectExpr(
        "source || '.example.com' AS src_host",
        f"{_LINK_BASE_PATH_SQL} AS base_path", f"{_LINK_PAGE_SQL} AS html")
    hrefs = pages.selectExpr(
        "src_host", "base_path",
        "explode(regexp_extract_all(html, 'href=\"([^\"]+)\"', 1)) AS href")
    resolved = urlfn.resolve_href("href", "'https'", "src_host",
                                  base_path="base_path")
    return (hrefs.select("src_host", resolved.alias("u"))
            .filter(F.col("u").isNotNull()))


def _link_edges(spark, sf_dir):
    """(src, dst) host edge relation off _link_urls — the PageRank
    input."""
    return _link_urls(spark, sf_dir).select(
        F.col("src_host").alias("src"),
        urlfn.url_host("u").alias("dst"))


def _weighted_host_edges(spark, sf_dir):
    """(src_host, dst_host, n_urls) off _link_urls — the weighted
    PageRank input: each host pair's DISTINCT resolved-URL count is
    its link-multiplicity weight (the weighted oracles' ``we``)."""
    return (_link_urls(spark, sf_dir)
            .select("src_host", "u",
                    urlfn.url_host("u").alias("dst_host"))
            .groupBy("src_host", "dst_host")
            .agg(F.count_distinct(F.col("u")).cast("long")
                 .alias("n_urls")))


def _seed_hosts(edges, col):
    """The crawl seeds of a host edge relation: the lexicographic min
    and max of its source column ``col`` — deterministic, mirrored in
    SQL (the oracles' ``pseeds``) and present at every scale factor (a
    planted literal would vanish under the scale generator's
    differently-spelled host names)."""
    m = edges.agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
    return (m.select(F.explode(F.array("lo", "hi")).alias("node"))
            .distinct())


@query(
    "web_link_graph",
    oracle=f"""
    WITH {_LINK_EDGES_CTES}
    SELECT src_host, dst_host,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS n_urls
    FROM linkedges GROUP BY src_host, dst_host
    """,
)
def web_link_graph(spark, sf_dir):
    """D5a (engine ext.): link extraction + frontier resolution — the
    crawl-loop closing step (extracted links are the next crawl's
    frontier, and the aggregated host graph is the input to every
    host-reputation signal): hrefs lift out of page HTML with one
    regexp_extract_all, resolve against the page's scheme/host/path
    (functions.url.resolve_href — full RFC 3986 §5 reference
    resolution since round 11: absolute, protocol-relative,
    root-relative, and relative-path refs all resolve with §5.2.4
    dot-segment collapse; mailto:/query-only planted and dropped), and
    aggregate to the (src_host, dst_host) edge relation with link and
    DISTINCT-resolved-URL counts — n_urls is what pins the collapse:
    the planted ``../up/{{m}}`` and ``/a/{{m}}/../up/{{m}}`` pair must
    land on one URL (see the fixture comment above _LINK_PAGE_SQL).

    Shape: narrow extract + explode (link-count x corpus rows, the
    unavoidable fan-out), ONE hash aggregation on the host pair —
    edge-relation-sized output, host-pair state. No Python, no second
    scan."""
    return (_link_urls(spark, sf_dir)
            .select("src_host", "u",
                    urlfn.url_host("u").alias("dst_host"))
            .groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).cast("long").alias("n_links"),
                 F.count_distinct(F.col("u")).cast("long")
                  .alias("n_urls")))


# --- D5b: anchor-text aggregation onto the link graph ----------------------

# The anchor fixture extends the shared link page with per-class extra
# elements (never touching _LINK_PAGE_SQL, whose byte-exact shape gates
# the whole D family): every n%3==0 source re-links its /local/{m}
# URL — already linked with text 's' — with NESTED-TAG text
# '<b>hot</b> link', so the aggregation sees the same resolved URL
# under two different texts and the tag-strip rule is load-bearing.
# The n%3==1 sources already link ONE resolved URL (/a/up/{m}) twice
# with texts 'u' and 'v' via the dot-segment collapse pair. Every
# n%3==2 source (r14) self-links through an absolute href carrying a
# 'www.' prefix AND an explicit ':443' default port — the resolved
# dst_url keeps those bytes verbatim (resolution never rewrites the
# authority), but any HOST-keyed consumer must normalize through the
# url_host rule (lowercase, default-port strip, www strip) or the
# anchor silently detaches from its host: the BM25F anchor field's
# load-bearing plant (ADVICE r13 — engine and oracle previously
# agreed only because no anchor emitted www/port forms).
_ANCHOR_EXTRA_SQL = (f"(CASE WHEN {_SRC_N} % 3 = 0 THEN "
                     f"'<a href=\"/local/' || {_M_SQL} || "
                     "'\"><b>hot</b> link</a>' "
                     f"WHEN {_SRC_N} % 3 = 2 THEN "
                     "'<a href=\"https://www.src' || "
                     f"CAST({_SRC_N} AS STRING) || "
                     f"'.example.com:443/w' || {_M_SQL} || "
                     "'\">hot www</a>' ELSE '' END)")
_ANCHOR_PAT = '<a href="([^"]+)">(.*?)</a>'

# DuckDB parallel unnest zips POSITIONALLY (two unnests in one SELECT
# advance together), which is exactly the href<->text pairing the
# Spark side gets from arrays_zip — the wrinkle this oracle exists to
# pin. atext normalization = html_to_text's tag rule (tags -> space,
# whitespace collapsed, trimmed).
_ANCHOR_CTES = f"""
    apages AS (
      SELECT doc_id, source || '.example.com' AS src_host,
             {_LINK_BASE_PATH_SQL} AS base_path,
             {_LINK_PAGE_SQL} || {_ANCHOR_EXTRA_SQL} AS html
      FROM documents),
    araw AS (
      SELECT doc_id, src_host, base_path,
        unnest(regexp_extract_all(html, '{_ANCHOR_PAT}', 1)) AS href,
        unnest(regexp_extract_all(html, '{_ANCHOR_PAT}', 2)) AS rawtext
      FROM apages),
    aclean AS (
      SELECT doc_id, src_host, base_path,
             regexp_replace(href, '#.*$', '') AS h,
             trim(regexp_replace(regexp_replace(
               rawtext, '<[^>]*>', ' ', 'g'),
               '[ \\t]+', ' ', 'g')) AS atext
      FROM araw),
    aparts AS (
      SELECT doc_id, src_host, base_path, h, atext,
             regexp_extract(h, '^([^?#]*)', 1) AS rel_path,
             regexp_extract(h, '(\\?[^#]*)', 1) AS rel_qs,
             regexp_replace(base_path, '[^/]*$', '') AS base_dir,
             regexp_extract(h,
               '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS abs_pre,
             regexp_extract(h,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
               AS abs_path,
             regexp_extract(h, '^//([^/?#]*)', 1) AS pr_auth,
             regexp_extract(h, '^//[^/?#]*([^?#]*)', 1) AS pr_path
      FROM aclean),
    amerged AS (
      SELECT *, (CASE WHEN starts_with(base_dir || rel_path, '/')
                      THEN base_dir || rel_path
                      ELSE '/' || base_dir || rel_path END) AS merged
      FROM aparts),
    aresolved AS (
      SELECT src_host, atext,
             CASE
               WHEN h = '' THEN NULL
               WHEN regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*://')
                 THEN abs_pre || {_sql_collapse('abs_path')} || rel_qs
               WHEN starts_with(h, '//')
                 THEN 'https://' || pr_auth
                      || {_sql_collapse('pr_path')} || rel_qs
               WHEN starts_with(h, '/')
                 THEN 'https://' || src_host
                      || {_sql_collapse('rel_path')} || rel_qs
               WHEN regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:')
                    OR starts_with(h, '?') THEN NULL
               ELSE 'https://' || src_host
                    || {_sql_collapse('merged')} || rel_qs
             END AS u
      FROM amerged)
"""


@query(
    "web_anchor_text",
    headline=True,
    oracle=f"""
    WITH {_ANCHOR_CTES}
    SELECT src_host, u AS dst_url,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(COUNT(DISTINCT atext) AS BIGINT) AS n_texts,
           string_agg(DISTINCT atext, '|' ORDER BY atext)
             AS anchor_texts
    FROM aresolved WHERE u IS NOT NULL
    GROUP BY src_host, u
    """,
)
def web_anchor_text(spark, sf_dir):
    """D5b (engine ext.): anchor-text aggregation onto the link graph
    — per (source host, resolved destination URL), the set of texts
    pages link it with. THE classic relevance/quality signal of web
    corpora: anchor text is independent evidence of what a page is
    about (search engines rank on it; corpus curation uses it as a
    target-side quality prior; BM25-over-anchors is a standard
    retrieval field). One zipped two-group extraction: href and inner
    text lift out of the SAME anchor-element match (arrays_zip keeps
    the pairing; the oracle's parallel unnest zips positionally —
    drifting the pairing by one flips every text), hrefs resolve
    through the full RFC 3986 resolver, nested markup strips under the
    html_to_text tag rule, and one hash aggregation lands
    (n_anchors, n_texts, sorted-distinct texts) per edge. The planted
    multi-text URLs: /local/{{m}} carries 's' AND 'hot link' (nested
    <b> stripped) for n%3==0 sources; the dot-segment pair 'u'/'v'
    share their collapsed URL for n%3==1.

    Shape: narrow per-page extract + explode, ONE exchange on
    (src_host, dst_url) — (edge x texts)-sized state, no second corpus
    scan, no Python. At 100 TB anchor aggregation is the same shuffle
    the link graph itself pays, just keyed one level finer."""
    return (_anchor_rows(spark, sf_dir)
            .groupBy("src_host", "dst_url")
            .agg(F.count(F.lit(1)).cast("long").alias("n_anchors"),
                 F.count_distinct("atext").cast("long").alias("n_texts"),
                 F.array_join(F.array_sort(F.collect_set("atext")), "|")
                  .alias("anchor_texts")))


def _anchor_rows(spark, sf_dir):
    """Shared unaggregated anchor relation (src_host, dst_url, atext):
    href and inner text lifted out of the SAME anchor-element match
    (arrays_zip pairing), hrefs resolved through the full RFC 3986
    resolver, nested markup stripped under the html_to_text tag rule.
    web_anchor_text aggregates it per edge; web_host_bm25f tokenizes
    it as the anchor FIELD of the target host."""
    return _anchor_rows_from(io.load_table(spark, sf_dir, "documents"))


def _anchor_rows_from(d):
    """_anchor_rows over an explicit documents relation — the
    delivery-scoped form web_bm25f_incremental folds per delivery
    (anchors belong to the page that CARRIES them, so splitting the
    corpus splits the anchor relation exactly)."""
    pages = d.selectExpr(
        "source || '.example.com' AS src_host",
        f"{_LINK_BASE_PATH_SQL} AS base_path",
        f"{_LINK_PAGE_SQL} || {_ANCHOR_EXTRA_SQL} AS html")
    # ONE regex pass over the page (r17, guide §1.2 per-task work): the
    # previous shape ran regexp_extract_all over the FULL html twice —
    # once per capture group — then zipped positionally; this one
    # extracts the full matches (group 0) once and lifts both groups
    # out of each ~40-byte match string, halving the page-sized regex
    # work while keeping the pairing by construction (group 0 spans
    # exactly what the two-pass scan consumed, so both group values
    # are identical match for match — the gated hashes cannot move).
    # The group extracts run INSIDE the array transforms, before the
    # explode, so the downstream struct-field references stay cheap:
    # feeding regexp_extract directly into resolve_href re-evaluates
    # it once per branch of the resolver's CASE tree (~15x; measured
    # 2.4 s vs 1.0 s at sf0.1 — CollapseProject re-inlines a
    # projected alias, a lambda body is safe).
    z = pages.selectExpr(
        "src_host", "base_path",
        f"explode(transform(regexp_extract_all(html, '{_ANCHOR_PAT}', 0), "
        f"m -> struct(regexp_extract(m, '{_ANCHOR_PAT}', 1) AS hrefs, "
        f"regexp_extract(m, '{_ANCHOR_PAT}', 2) AS rawtexts))) AS a")
    resolved = urlfn.resolve_href("a.hrefs", "'https'", "src_host",
                                  base_path="base_path")
    atext = F.expr("trim(regexp_replace(regexp_replace(a.rawtexts, "
                   r"'<[^>]*>', ' '), r'[ \t]+', ' '))")
    return (z.select("src_host", resolved.alias("dst_url"),
                     atext.alias("atext"))
            .filter(F.col("dst_url").isNotNull()))


# BM25F oracle: the fielded scorer unrolled in SQL off the SAME anchor
# CTEs. Field separation is total in the fixture: 'link'/'hot' exist
# ONLY in anchor text (the documents vocabulary is a closed word set
# without them) and 'spark'/'window' only in body text — so a scorer
# that ignores either field zeroes half the query and reorders the
# top-k. The pseudo-frequency is materialized as one named DOUBLE so
# both engines evaluate the identical IEEE op sequence; contributions
# round to integer micros and sum as BIGINT (the bm25_rational_topk
# discipline).
_HOST_BM25F_TERMS = "('link', 'hot', 'spark', 'window')"
_HOST_BM25F_ORACLE = f"""
    WITH {_ANCHOR_CTES},
    hosts AS (SELECT DISTINCT source || '.example.com' AS host
              FROM documents),
    nh AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM hosts),
    btoks AS (SELECT source || '.example.com' AS host,
                     unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
    blen AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS len_b
             FROM btoks GROUP BY host),
    btot AS (SELECT CAST(SUM(len_b) AS DOUBLE) AS tot_b FROM blen),
    ahost AS (
      -- the url_host rule in lockstep with functions/url.py (ADVICE
      -- r13: a bare lowercased authority detaches www./port anchors
      -- from their host — the n%3==2 plant now forces this)
      SELECT regexp_replace(
               CASE lower(regexp_extract(u,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                 WHEN 'http' THEN regexp_replace(lower(regexp_extract(u,
                   '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                   ':80$', '')
                 WHEN 'https' THEN regexp_replace(lower(regexp_extract(u,
                   '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                   ':443$', '')
                 ELSE lower(regexp_extract(u,
                   '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
               END, '^www\\.', '') AS host,
             atext
      FROM aresolved WHERE u IS NOT NULL AND atext <> ''),
    atoks AS (SELECT host,
                     unnest(string_split(lower(atext), ' ')) AS term
              FROM ahost
              WHERE host IN (SELECT host FROM hosts)),
    alen AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS len_a
             FROM atoks GROUP BY host),
    atot AS (SELECT CAST(SUM(len_a) AS DOUBLE) AS tot_a FROM alen),
    qb AS (SELECT host, term, CAST(COUNT(*) AS BIGINT) AS tf_b
           FROM btoks WHERE term IN {_HOST_BM25F_TERMS}
           GROUP BY host, term),
    qa AS (SELECT host, term, CAST(COUNT(*) AS BIGINT) AS tf_a
           FROM atoks WHERE term IN {_HOST_BM25F_TERMS}
           GROUP BY host, term),
    tfs AS (SELECT host, term,
                   COALESCE(tf_b, CAST(0 AS BIGINT)) AS tf_b,
                   COALESCE(tf_a, CAST(0 AS BIGINT)) AS tf_a
            FROM qb FULL JOIN qa USING (host, term)),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tfs GROUP BY term),
    pseudo AS (
      SELECT t.host, t.term,
             (t.tf_b / (0.25 + 0.75 * bl.len_b * n.n / bt.tot_b)
              + 2.0 * t.tf_a
                / (0.5 + 0.5 * COALESCE(al.len_a, CAST(0 AS BIGINT))
                   * n.n / at.tot_a)) AS tft
      FROM tfs t
      JOIN blen bl ON bl.host = t.host
      LEFT JOIN alen al ON al.host = t.host,
      nh n, btot bt, atot at),
    scored AS (
      SELECT p.host,
             FLOOR((((n.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                    * p.tft / (1.2 + p.tft)) * 1000000.0 + 0.5)
               AS c_micros
      FROM pseudo p JOIN dfs d USING (term), nh n),
    per_host AS (SELECT host,
                        CAST(SUM(CAST(c_micros AS BIGINT)) AS BIGINT)
                          AS score_micros
                 FROM scored GROUP BY host)
    SELECT host, score_micros, rank FROM (
      SELECT host, score_micros,
             row_number() OVER (ORDER BY score_micros DESC, host)
               AS rank
      FROM per_host)
    WHERE rank <= 10
    """


@query("web_host_bm25f", oracle=_HOST_BM25F_ORACLE)
def web_host_bm25f(spark, sf_dir):
    """D5b-f (engine ext.): BM25F FIELDED retrieval over hosts — the
    scorer web search actually ran (Robertson & Zaragoza's BM25F):
    a host is described by TWO fields of different reliability, its
    own BODY text and the ANCHOR text other pages link it with, and
    per term the field frequencies combine into one length-normalized
    pseudo-frequency BEFORE saturation:

        tft = tf_body/B_body + 2.0 * tf_anchor/B_anchor
        B_f = (1 - b_f) + b_f * len_f * N / total_f
        contrib = idf * tft / (k1 + tft)

    (b_body 0.75, b_anchor 0.5, anchors weighted 2x — the classic
    setup: anchor text is independent third-party evidence, so it
    saturates jointly with the body rather than being a second score
    summed after saturation, which is precisely what distinguishes
    BM25F from naive per-field BM25 addition). Exactness follows
    bm25_rational_topk: log-free rational idf, the pseudo-frequency
    materialized once as a named double (one IEEE op sequence both
    engines share), contributions rounded to integer micros and
    summed as BIGINT. The query {{link, hot, spark, window}} splits
    cleanly across the fields (see the oracle comment), so both field
    pipelines are load-bearing in the gate.

    Shape: ONE tokenize pass per field into checkpointed (host, term)
    posting counts — the inverted-index relation every downstream
    stat (field lengths, totals, query tfs) derives from without
    rescanning the corpus; host-sized length/df/corpus stats all
    broadcast, one keyed micros sum, one bounded top-k window. At
    100 TB the anchor field costs the anchor extraction the link
    graph already pays; the posting aggregate is the one corpus-sized
    exchange, scoring adds host-sized state only."""
    bcounts, acounts = _bm25f_counts(
        io.load_table(spark, sf_dir, "documents"))
    return _bm25f_score(bcounts, acounts)


def _bm25f_counts(d):
    """The BM25F posting-count leg over an explicit documents
    relation: ONE tokenize pass per field into (host, term, c) counts
    — the inverted-index relation every downstream stat derives from.
    Split out so web_bm25f_incremental can fold PER-DELIVERY partials
    into a standing store (counts are additive: each page lives in
    exactly one delivery, so per-delivery counts SUM to the batch
    counts bit-for-bit). Anchor counts here are UNFILTERED by target
    host — the known-host cut happens at scoring time against the
    standing body store, so an anchor can arrive before its target's
    body does (the crawl-order reality an incremental index lives
    with)."""
    host = F.concat("source", F.lit(".example.com")).alias("host")
    btoks = d.select(
        host, F.explode(F.split(F.lower("text"), " ")).alias("term"))
    bcounts = (btoks.groupBy("host", "term")
               .agg(F.count(F.lit(1)).cast("long").alias("c")))
    atoks = (_anchor_rows_from(d)
             .select(urlfn.url_host("dst_url").alias("host"),
                     "atext")
             .filter(F.col("atext") != "")
             .select("host", F.explode(F.split(F.lower("atext"), " "))
                     .alias("term")))
    acounts = (atoks.groupBy("host", "term")
               .agg(F.count(F.lit(1)).cast("long").alias("c")))
    return bcounts, acounts


def _bm25f_score(bcounts, acounts, materialized: bool = False):
    """The BM25F scoring leg over (host, term, c) posting counts —
    identical arithmetic whether the counts come from a batch
    tokenize (web_host_bm25f) or a standing fold store
    (web_bm25f_incremental); both gate under the same whole-corpus
    oracle, which is what makes the store's bit-equality claim
    checkable. Counts are CHECKPOINTED here by default: every
    downstream stat (field lengths, totals, query tfs) re-references
    them — without this the lengths, totals and tf legs each re-ran
    the corpus scan / anchor regex extraction (3 scans per field, the
    pagerank multi-reference lesson in aggregate form).

    ``materialized=True`` (r18): the STORE-backed callers feed this
    leg parquet scans with pushed filters and real stats — for those,
    re-planning the scan per reference is cheaper than three eager
    checkpoint jobs + block writes (A/B on the standing store at
    sf0.1: 3.83 -> 2.92 s min, 12 -> 9 jobs, recorded in
    OPTIMIZATION_r18.md; results bit-identical and oracle-gated in
    every caller). The batch-tokenize callers keep the default."""
    from pyspark.sql import Window

    def _cut(df):
        return df if materialized else materialize(df)

    bcounts = _cut(bcounts)
    # hosts with >= 1 body token == distinct source hosts (split('')
    # yields one empty token in both engines, so no host drops out)
    hosts = _cut(bcounts.select("host").distinct())
    nh = hosts.agg(F.count(F.lit(1)).cast("double").alias("n"))
    blen = bcounts.groupBy("host").agg(
        F.sum("c").cast("long").alias("len_b"))
    btot = blen.agg(F.sum("len_b").cast("double").alias("tot_b"))
    acounts = _cut(acounts.join(hosts, "host", "semi"))
    alen = acounts.groupBy("host").agg(
        F.sum("c").cast("long").alias("len_a"))
    atot = alen.agg(F.sum("len_a").cast("double").alias("tot_a"))
    terms = ["link", "hot", "spark", "window"]
    qb = (bcounts.filter(F.col("term").isin(terms))
          .select("host", "term", F.col("c").alias("tf_b")))
    qa = (acounts.filter(F.col("term").isin(terms))
          .select("host", "term", F.col("c").alias("tf_a")))
    zero = F.lit(0).cast("long")
    tfs = (qb.join(qa, ["host", "term"], "full")
           .select("host", "term",
                   F.coalesce("tf_b", zero).alias("tf_b"),
                   F.coalesce("tf_a", zero).alias("tf_a")))
    dfs = tfs.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    tft = (F.col("tf_b")
           / (F.lit(0.25) + F.lit(0.75) * F.col("len_b") * F.col("n")
              / F.col("tot_b"))
           + F.lit(2.0) * F.col("tf_a")
           / (F.lit(0.5) + F.lit(0.5) * F.coalesce("len_a", zero)
              * F.col("n") / F.col("tot_a")))
    pseudo = (tfs.join(blen, "host")
              .join(alen, "host", "left")
              .crossJoin(F.broadcast(nh))
              .crossJoin(F.broadcast(btot))
              .crossJoin(F.broadcast(atot))
              .select("host", "term", tft.alias("tft"), "n"))
    idf = ((F.col("n") - F.col("df") + F.lit(0.5))
           / (F.col("df") + F.lit(0.5)) + F.lit(1.0))
    scored = (pseudo.join(F.broadcast(dfs), "term")
              .select("host",
                      F.floor((idf * F.col("tft")
                               / (F.lit(1.2) + F.col("tft")))
                              * F.lit(1000000.0) + F.lit(0.5))
                       .cast("long").alias("c")))
    per_host = scored.groupBy("host").agg(
        F.sum("c").alias("score_micros"))
    w = Window.orderBy(F.col("score_micros").desc(), F.col("host"))
    return (per_host
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 10)
            .select("host", "score_micros", "rank"))


@query("web_bm25f_incremental", oracle=_HOST_BM25F_ORACLE,
       headline=True)  # benched since r15: the round-14 flagship
       # lifecycle (crawl -> standing index -> retrieve), wins
       # 3.1x/3.6x at sf1/sf10 — per-round regression line like the
       # screen/SCC rows
def web_bm25f_incremental(spark, sf_dir):
    """D5b-f-inc (engine ext.): INCREMENTAL posting/index maintenance
    for fielded retrieval — the (host, term, field) posting counts
    BM25F scores from are kept as a STANDING aggregate store
    (streaming.fold_agg_snapshot — additive integer folds) instead of
    being re-tokenized from the whole corpus each crawl delivery,
    closing crawl -> index -> retrieve as a live loop the way
    CDX/mirror-sets/PageRank already are. The corpus arrives as two
    deliveries (doc parity); each folds its per-delivery body AND
    anchor partial counts at O(delivery tokens + touched postings), a
    redelivery of delivery 1 at its own ordinal must SKIP (the
    additive-fold replay guard, probed in-row — if it rots, every
    count double-counts and the hash flips), and scoring reads the
    standing store through the IDENTICAL _bm25f_score leg the batch
    row uses. Because posting counts merge by exact integer SUM and
    every page lives in exactly one delivery, the standing store
    equals the batch tokenize BIT-FOR-BIT — the oracle is literally
    web_host_bm25f's whole-corpus SQL, which is the gate's point.
    Anchor partials fold UNFILTERED by target host (an anchor can
    arrive before its target's body — the crawl-order reality); the
    known-host cut happens at scoring time against the standing body
    field.

    Production shape: per delivery one tokenize + one
    posting-relation-sized fold exchange, never O(corpus history);
    the store is the CDC snapshot format, so compaction/time-travel
    apply unchanged."""
    import tempfile

    from clif_spark import streaming as STR

    d = io.load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="clif_bm25f_store_")
    did = F.col("doc_id")
    partial = None
    for v in (0, 1):
        part = d.filter(did % 2 == v)
        bc, ac = _bm25f_counts(part)
        partial = (bc.withColumn("field", F.lit("body"))
                   .unionByName(ac.withColumn("field", F.lit("anchor"))))
        STR.fold_agg_snapshot(partial, root,
                              keys=["host", "term", "field"], version=v,
                              add_cols=["c"], lineage="bm25f-postings")
    # replay-guard probe: refolding delivery 1 at its ordinal must
    # skip. The delivery-1 partial RELATION is redelivered as-is (r17):
    # the guard keys on the ordinal alone and must skip before reading
    # a row, so rebuilding an identical ~1 s Column tree for the probe
    # bought nothing — same logical redelivery, zero extra plan
    # construction.
    if STR.fold_agg_snapshot(partial, root,
                             keys=["host", "term", "field"], version=1,
                             add_cols=["c"],
                             lineage="bm25f-postings") is not None:
        raise RuntimeError("additive-fold redelivery must skip")
    stored = STR.read_cdc_snapshot(spark, root)
    return _bm25f_score(
        stored.filter(F.col("field") == "body")
              .select("host", "term", "c"),
        stored.filter(F.col("field") == "anchor")
              .select("host", "term", "c"),
        materialized=True)


# Takedown oracle: the batch BM25F recompute over the corpus MINUS the
# taken-down docs — one textual substitution (documents -> kept_docs)
# over the shared oracle, so the scorer arithmetic cannot drift between
# the standing-store row and its batch mirror. All three corpus reads
# (anchor pages, hosts, body tokens) must move together: a page's
# takedown removes BOTH its body postings and the anchors it CARRIES.
# Both surgery anchors asserted present so a reformat of the shared
# oracle's head or of the "FROM documents" spelling fails loud at
# import instead of silently mangling the SQL (ADVICE r16; the
# _ER_TRUNC_BRANCH discipline). Covers this construction and the
# _BM25F_COMPACTED_ORACLE below, which use the same two anchors.
assert _HOST_BM25F_ORACLE.lstrip().startswith("WITH "), \
    "BM25F derived oracles: shared oracle no longer starts with WITH"
assert "FROM documents" in _HOST_BM25F_ORACLE, \
    "BM25F derived oracles: 'FROM documents' anchor moved"
_BM25F_TAKEDOWN_ORACLE = (
    "    WITH kept_docs AS (SELECT * FROM documents "
    "WHERE doc_id % 9 <> 0),\n"
    + _HOST_BM25F_ORACLE.lstrip()[len("WITH "):].replace(
        "FROM documents", "FROM kept_docs"))


@query("web_bm25f_takedown", oracle=_BM25F_TAKEDOWN_ORACLE)
def web_bm25f_takedown(spark, sf_dir):
    """D5b-f-td (engine ext.): TAKEDOWN over the standing retrieval
    index — the right-to-be-forgotten operation a production index
    must support without a full rebuild: because the posting store's
    counts merge by exact integer ADDITION, removing a document is
    folding its posting counts NEGATED (one O(doc tokens) fold), and
    exactness guarantees every touched posting lands on precisely the
    count it would have had in a from-scratch build — a full takedown
    of a doc's contribution zeroes its postings EXACTLY, never
    drifting negative or residual-positive. Zeroed postings drop at
    read time (c > 0: a term the corpus no longer contains must not
    hold a candidate row, or a host whose whole body was taken down
    would still surface on anchor mass with a zero-length body field).

    The row folds the corpus in two deliveries, then folds the
    NEGATED counts of every 9th document (body postings AND the
    anchors those pages carry — takedown removes the page's outbound
    evidence too) as delivery 2 with a redelivery-skip probe, and
    scores through the identical batch leg. The oracle is the batch
    BM25F over the corpus minus the taken-down docs (the shared SQL
    with one substitution), so the standing store after takedown must
    equal a world where the docs never existed — BIT-FOR-BIT.

    Production shape: takedown cost is O(removed docs' tokens +
    touched postings), never O(corpus); the store never rebuilds."""
    import tempfile

    from clif_spark import streaming as STR

    d = io.load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="clif_bm25f_td_store_")
    did = F.col("doc_id")

    def fold(docs, version):
        bc, ac = _bm25f_counts(docs)
        partial = (bc.withColumn("field", F.lit("body"))
                   .unionByName(ac.withColumn("field",
                                              F.lit("anchor"))))
        return STR.fold_agg_snapshot(
            partial, root, keys=["host", "term", "field"],
            version=version, add_cols=["c"],
            lineage="bm25f-td-postings")

    for v in (0, 1):
        fold(d.filter(did % 2 == v), v)
    # the takedown delivery: NEGATED posting counts of the removed docs
    tb, ta = _bm25f_counts(d.filter(did % 9 == 0))
    td = (tb.withColumn("field", F.lit("body"))
          .unionByName(ta.withColumn("field", F.lit("anchor")))
          .withColumn("c", -F.col("c")))
    if STR.fold_agg_snapshot(td, root, keys=["host", "term", "field"],
                             version=2, add_cols=["c"],
                             lineage="bm25f-td-postings") is None:
        raise RuntimeError("takedown fold unexpectedly skipped")
    # replay guard: redelivering the takedown must skip, or every
    # count double-subtracts
    if STR.fold_agg_snapshot(td, root, keys=["host", "term", "field"],
                             version=2, add_cols=["c"],
                             lineage="bm25f-td-postings") is not None:
        raise RuntimeError("takedown redelivery must skip")
    stored = (STR.read_cdc_snapshot(spark, root)
              .filter(F.col("c") > 0))
    return _bm25f_score(
        stored.filter(F.col("field") == "body")
              .select("host", "term", "c"),
        stored.filter(F.col("field") == "anchor")
              .select("host", "term", "c"),
        materialized=True)


# Compaction oracle: the kept world is the corpus minus EVERY page of
# one whole host (lexicographic min source) — a full-host takedown is
# the fixture that GUARANTEES exactly-zeroed postings at every SF (each
# of the host's body postings is contributed only by its own pages),
# unlike the %9 doc sample whose terms may all survive in kept docs.
# Same one-substitution construction as the takedown oracle; the inner
# MIN(source) subquery sits in the prefix, outside the substitution.
# (Surgery anchors asserted at the takedown construction above.)
_BM25F_COMPACTED_ORACLE = (
    "    WITH kept_docs AS (SELECT * FROM documents "
    "WHERE source <> (SELECT MIN(source) FROM documents)),\n"
    + _HOST_BM25F_ORACLE.lstrip()[len("WITH "):].replace(
        "FROM documents", "FROM kept_docs"))


@query("web_bm25f_compacted", oracle=_BM25F_COMPACTED_ORACLE)
def web_bm25f_compacted(spark, sf_dir):
    """D5b-f-cmp (engine ext.): ZERO-POSTING COMPACTION of the standing
    retrieval index — the storage-reclaim step takedown makes
    necessary: a negated-count fold zeroes postings EXACTLY but leaves
    them physically in the parquet, readers filter them (``c > 0``),
    and repeated takedowns accumulate dead rows without bound. This
    row takes down an ENTIRE host (every page of the lexicographic min
    source — zeroing its whole body posting set by construction, at
    every SF), compacts with ``drop_zero_cols=['c']``
    (streaming.compact_cdc_snapshot — same delivered-through contract
    as the tombstone drop; a zeroed key is re-admittable by any fresh
    positive fold, so unlike a tombstone it has no suppression role to
    preserve), asserts the dead rows are GONE from the store
    (row-count arithmetic in-row: removed == pre-compaction zeros,
    post-count == pre - removed, and zeros existed at all), and then
    scores through the identical batch leg WITHOUT the read-side
    ``c > 0`` filter — physical removal must be semantically complete,
    so one surviving zero row resurfaces a phantom candidate and flips
    the hash. Oracle = the batch BM25F over the corpus minus the
    host's pages (the shared SQL, one substitution): the compacted
    store must equal a world where the host never existed,
    bit-for-bit. History expiry documented on the compactor: time
    travel before the compaction point is gone — the log-compaction
    retention trade.

    Production shape: compaction is one store-sized rewrite (store =
    one row per posting KEY, never corpus-sized), amortized across
    takedowns; the read path sheds its zero filter between
    compactions only if the store is known compacted — keeping the
    filter is the safe default, dropping it here is the proof."""
    import tempfile

    from clif_spark import streaming as STR

    d = io.load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="clif_bm25f_cmp_store_")
    did = F.col("doc_id")

    def fold(partial, version):
        return STR.fold_agg_snapshot(
            partial, root, keys=["host", "term", "field"],
            version=version, add_cols=["c"],
            lineage="bm25f-cmp-postings")

    def counts(docs):
        bc, ac = _bm25f_counts(docs)
        return (bc.withColumn("field", F.lit("body"))
                .unionByName(ac.withColumn("field", F.lit("anchor"))))

    for v in (0, 1):
        fold(counts(d.filter(did % 2 == v)), v)
    # full-host takedown: every page of the min source, negated — body
    # postings AND the anchors those pages carry (the victim relation
    # is one broadcast row; no driver-side collect)
    victim = d.groupBy().agg(F.min("source").alias("source"))
    removed = d.join(F.broadcast(victim), "source", "semi")
    if fold(counts(removed).withColumn("c", -F.col("c")), 2) is None:
        raise RuntimeError("takedown fold unexpectedly skipped")
    store = STR.read_cdc_snapshot(spark, root)
    pre = store.count()
    n_zero = store.filter(F.col("c") == 0).count()
    if n_zero == 0:
        raise RuntimeError(
            "web_bm25f_compacted: full-host takedown produced no "
            "zeroed postings — the fixture's whole point; the "
            "negated fold or the counts leg has drifted")
    n_dead = STR.compact_cdc_snapshot(spark, root,
                                      drop_zero_cols=["c"])
    if n_dead != n_zero:
        raise RuntimeError(
            f"web_bm25f_compacted: compaction removed {n_dead} rows, "
            f"expected exactly the {n_zero} zeroed postings")
    compacted = STR.read_cdc_snapshot(spark, root)
    if compacted.count() != pre - n_zero:
        raise RuntimeError(
            "web_bm25f_compacted: post-compaction row count does not "
            "equal pre-compaction minus zeroed — dead rows survived "
            "in the parquet")
    # deliberately NO c > 0 filter: the compacted store must be clean
    return _bm25f_score(
        compacted.filter(F.col("field") == "body")
                 .select("host", "term", "c"),
        compacted.filter(F.col("field") == "anchor")
                 .select("host", "term", "c"),
        materialized=True)


@query(
    "web_cocitation_triangles",
    oracle=f"""
    WITH {_LINK_EDGES_CTES},
    hedges AS (SELECT DISTINCT src_host, dst_host FROM linkedges),
    cocite AS (
      SELECT DISTINCT a.dst_host AS u, b.dst_host AS v
      FROM hedges a JOIN hedges b ON a.src_host = b.src_host
      WHERE a.dst_host < b.dst_host),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM cocite e1
      JOIN cocite e2 ON e2.u = e1.v
      JOIN cocite e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT host, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT a AS host FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY host
    """,
)
def web_cocitation_triangles(spark, sf_dir):
    """D5f (engine ext.): co-citation graph + per-host TRIANGLE counts
    — the local-density signal behind link-farm / spam-cluster
    detection (HITS-family co-citation: two hosts a page links
    together are topically coupled; organic co-citation neighborhoods
    are sparse, farms are near-cliques, and triangle density is the
    classic separator). Two stages, both exactly SQL-mirrorable:
    (1) co-citation edges = DISTINCT unordered host pairs sharing a
    referring host (one self-join on src_host); (2) triangle
    enumeration as ordered triples a < b < c via
    operators/graph.triangle_counts — each triangle exactly once, no
    tolerance band. The fixture plants one co-citation triad
    {{self, ring-next, cdn}} per source host, with shared cdn hubs
    overlapping the triads across hosts — non-uniform counts a
    single-join or double-counting bug both flip.

    Shape: the per-link relation DEDUPLICATES to distinct
    (src_host, dst_host) pairs BEFORE the self-join — the join key has
    host-count cardinality, so self-joining per-link rows would square
    the per-host link count (2.25e10 pairs per host at sf10); on the
    deduped relation it squares the per-host out-DEGREE (single
    digits). Then the standard two-hash-join triangle enumeration on
    the host-pair-sized relation; hosts in no triangle absent by join
    semantics (mirrored in SQL). No iteration, no Python."""
    from clif_spark.operators import graph as G

    # host-pair-sized checkpoint: the self-join references the deduped
    # relation twice — without it the corpus link extraction runs once
    # per leg (the pagerank lesson applied before it bites)
    e = materialize(_link_edges(spark, sf_dir).distinct())
    a = e.select(F.col("src").alias("s"), F.col("dst").alias("u"))
    b = e.select(F.col("src").alias("s"), F.col("dst").alias("v"))
    cocite = (a.join(b, "s")
              .filter(F.col("u") < F.col("v"))
              .select("u", "v")
              .distinct())
    return (G.triangle_counts(cocite, src_col="u", dst_col="v")
            .select(F.col("node").alias("host"), "n_triangles"))


def _pagerank_ctes(iterations: int = 3, damping: int = 85
                   ) -> tuple[str, str]:
    """(ctes, final_relation) — the unrolled K-iteration integer-micros
    PageRank CTE chain over ``linkedges``, shared by the pagerank
    oracles and the frontier oracle (one generator, zero drift)."""
    ctes = f"""
    e AS (SELECT DISTINCT src_host AS src, dst_host AS dst
          FROM linkedges),
    nodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    nc AS (SELECT COUNT(*) AS n FROM nodes),
    outd AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS r
           FROM nodes, nc)"""
    prev = "r0"
    # teleport numerator DERIVED from the damping parameter (not a
    # hardcoded 150000), so a caller passing damping != 85 gets an
    # oracle consistent with graph.pagerank's (100-d)% * MICROS // 100
    teleport_num = (100 - damping) * 1_000_000 // 100
    for i in range(1, iterations + 1):
        ctes += f""",
    s{i} AS (SELECT e.dst AS node, SUM({prev}.r // o.od) AS s
             FROM e JOIN {prev} ON {prev}.node = e.src
             JOIN outd o ON o.src = e.src
             GROUP BY e.dst),
    r{i} AS (SELECT nodes.node,
                    CAST(({teleport_num} // nc.n)
                         + ({damping} * COALESCE(s{i}.s, 0)) // 100
                         AS BIGINT) AS r
             FROM nodes LEFT JOIN s{i} ON s{i}.node = nodes.node, nc)"""
        prev = f"r{i}"
    return ctes, prev


def _hits_oracle(iterations: int = 3) -> str:
    """Unrolled K-iteration integer-micros L1-HITS — the SQL form of
    operators/graph.hits_fixed, generated from the same constants so
    the two cannot drift: a = normalize(A^T h), h = normalize(A a),
    normalize = x * MICROS // total (exact integer floor division on
    non-negative values, matching Spark's `div`)."""
    ctes = """
    he AS MATERIALIZED (SELECT DISTINCT src_host AS src, dst_host AS dst
           FROM linkedges),
    hnodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM he UNION ALL SELECT dst FROM he)),
    hnc AS (SELECT COUNT(*) AS n FROM hnodes),
    h0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS r
           FROM hnodes, hnc)"""
    prev_h = "h0"
    for i in range(1, iterations + 1):
        ctes += f""",
    ar{i} AS (SELECT he.dst AS node, SUM({prev_h}.r) AS s
              FROM he JOIN {prev_h} ON {prev_h}.node = he.src
              GROUP BY he.dst),
    af{i} AS (SELECT hnodes.node,
                     CAST(COALESCE(ar{i}.s, 0) AS BIGINT) AS s
              FROM hnodes LEFT JOIN ar{i} ON ar{i}.node = hnodes.node),
    at{i} AS (SELECT SUM(s) AS t FROM af{i}),
    a{i} AS (SELECT node, CAST((s * 1000000) // t AS BIGINT) AS r
             FROM af{i}, at{i}),
    hr{i} AS (SELECT he.src AS node, SUM(a{i}.r) AS s
              FROM he JOIN a{i} ON a{i}.node = he.dst
              GROUP BY he.src),
    hf{i} AS (SELECT hnodes.node,
                     CAST(COALESCE(hr{i}.s, 0) AS BIGINT) AS s
              FROM hnodes LEFT JOIN hr{i} ON hr{i}.node = hnodes.node),
    ht{i} AS (SELECT SUM(s) AS t FROM hf{i}),
    h{i} AS (SELECT node, CAST((s * 1000000) // t AS BIGINT) AS r
             FROM hf{i}, ht{i})"""
        prev_h = f"h{i}"
    return f"""
    WITH {_LINK_EDGES_CTES},
    {ctes}
    SELECT h{iterations}.node AS host,
           h{iterations}.r AS hub_micros,
           a{iterations}.r AS auth_micros
    FROM h{iterations} JOIN a{iterations}
      ON a{iterations}.node = h{iterations}.node
    """


@query("web_host_hits", oracle=_hits_oracle(iterations=3))
def web_host_hits(spark, sf_dir):
    """D5g (engine ext.): HITS hubs & authorities over the host graph
    — the co-citation-family complement to PageRank (authority = a
    fetch-priority / quality prior from who LINKS you, hub = the
    directory/aggregator signal from who you link), 3 exact
    integer-micros iterations with L1 normalization (classic HITS' L2
    norm is a sqrt — libm, which the gate bans; L1 keeps every
    operation exact integer division so both engines agree
    bit-for-bit; documented deviation). Gated against the unrolled
    3-iteration CTE chain generated from the SAME constants. On the
    fixture the cdn hosts (pure sinks, 4 referrers each) land maximal
    authority with zero hub mass, ring hosts split hub mass by
    out-neighbor authority — a non-uniform surface where a
    transposed-join or normalization-order bug flips values.

    Shape: per iteration two edge joins + two node-keyed sums + two
    single-row totals broadcast back (never collected); node-sized
    vectors broadcast at host-graph scale — the graph.pagerank
    shape doubled."""
    from clif_spark.operators import graph as G

    edges = _link_edges(spark, sf_dir)
    return G.hits_fixed(edges, iterations=3).select(
        F.col("node").alias("host"), "hub_micros", "auth_micros")


@query("web_hits_warm_start", oracle=_hits_oracle(iterations=3))
def web_hits_warm_start(spark, sf_dir):
    """D5g-incremental: HITS maintenance from a persisted hub vector —
    1 iteration is computed, the HUB vector (the iteration's only
    carried state; authorities are recomputed from hubs each step)
    folds into the CDC snapshot store, reads back, and 2 MORE
    iterations warm-start from it. Every operation is exact integer
    arithmetic, so stored-1 + warm-2 must equal 3-from-scratch
    BIT-FOR-BIT — checked by the SAME unrolled 3-iteration oracle as
    web_host_hits; one micro of drift anywhere (store roundtrip, init
    seeding, normalization order) flips the hash.

    Production shape: each crawl delivery advances the standing
    authority table a few iterations from stored state —
    O(iterations x edges) per delivery, never O(history)."""
    import tempfile

    from clif_spark import streaming as STR
    from clif_spark.operators import graph as G

    edges = materialize(_link_edges(spark, sf_dir))
    h1 = G.hits_fixed(edges, iterations=1)
    root = tempfile.mkdtemp(prefix="clif_hits_store_")
    STR.upsert_cdc_snapshot(
        h1.select("node", "hub_micros",
                  F.lit(1).cast("long").alias("__v"),
                  F.lit(False).alias("is_delete")),
        root, keys=["node"], order=["__v", "node"],
        lineage="host-hits")
    stored = STR.read_cdc_snapshot(spark, root) \
                .select("node", "hub_micros")
    return G.hits_fixed(edges, iterations=2, init_hub=stored).select(
        F.col("node").alias("host"), "hub_micros", "auth_micros")


def _pagerank_oracle(iterations: int = 3, damping: int = 85) -> str:
    """Unrolled K-iteration integer-micros PageRank — the SQL form of
    operators/graph.pagerank, generated from the same constants
    so the two cannot drift."""
    ctes, prev = _pagerank_ctes(iterations, damping)
    return f"""
    WITH {_LINK_EDGES_CTES},
    {ctes}
    SELECT node, r AS rank_micros,
           CAST(r / 1000000.0 AS DOUBLE) AS rank
    FROM {prev}
    """


@query("web_host_pagerank", oracle=_pagerank_oracle())
def web_host_pagerank(spark, sf_dir):
    """D5b (engine ext.): PageRank over the extracted host graph — the
    ITERATIVE-algorithm class, driver-gated exactly (not a tolerance
    band): 3 fixed iterations in integer-micros arithmetic
    (operators/graph.pagerank), where every per-edge contribution
    is a floor division and every sum is a BIGINT add — exact,
    order-independent, bit-identical to the oracle's unrolled 3-stage
    SQL generated from the same constants. The planted graph has
    out-degrees of 1 or 2 and non-uniform in-degrees, so the ranks are
    genuinely non-trivial (a uniform-preserving bug would not survive
    the hash).

    Shape: K stages of (edges join ranks -> groupBy dst); the rank
    relation is HOST-count sized — at web scale it broadcasts, making
    each iteration one edge-relation scan with no corpus shuffle."""
    from clif_spark.operators import graph as G

    return G.pagerank(_link_edges(spark, sf_dir), iterations=3)


def _ppr_ctes(iterations: int = 3, damping: int = 85) -> str:
    """Unrolled K-iteration PERSONALIZED PageRank — the SQL form of
    operators/graph.pagerank with seeds, the same seed
    derivation as web_crawl_depth (lexicographic min and max source
    host: deterministic, present at every scale factor), generated
    from the same constants so the two cannot drift."""
    tnum = (100 - damping) * 1_000_000 // 100
    ctes = f"""
    e AS (SELECT DISTINCT src_host AS src, dst_host AS dst
          FROM linkedges),
    nodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    pseeds AS (SELECT MIN(src_host) AS node FROM linkedges
               UNION
               SELECT MAX(src_host) FROM linkedges),
    sn AS (SELECT COUNT(*) AS k FROM pseeds),
    outd AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    pbase AS (SELECT nodes.node,
                     CAST(CASE WHEN nodes.node IN
                            (SELECT node FROM pseeds)
                          THEN {tnum} // sn.k ELSE 0 END AS BIGINT)
                       AS tele
              FROM nodes, sn),
    p0 AS (SELECT node,
                  CAST(CASE WHEN tele > 0
                       THEN 1000000 // (SELECT k FROM sn)
                       ELSE 0 END AS BIGINT) AS r
           FROM pbase)"""
    prev = "p0"
    for i in range(1, iterations + 1):
        ctes += f""",
    ps{i} AS (SELECT e.dst AS node, SUM({prev}.r // o.od) AS s
              FROM e JOIN {prev} ON {prev}.node = e.src
              JOIN outd o ON o.src = e.src
              GROUP BY e.dst),
    p{i} AS (SELECT pbase.node,
                    CAST(pbase.tele
                         + ({damping} * COALESCE(ps{i}.s, 0)) // 100
                         AS BIGINT) AS r
             FROM pbase LEFT JOIN ps{i} ON ps{i}.node = pbase.node)"""
        prev = f"p{i}"
    return f"""
    WITH {_LINK_EDGES_CTES},
    {ctes}
    SELECT node, r AS rank_micros,
           CAST(r / 1000000.0 AS DOUBLE) AS rank
    FROM {prev}
    """


@query("web_pagerank_personalized", oracle=_ppr_ctes())
def web_pagerank_personalized(spark, sf_dir):
    """D5c-p (engine ext.): PERSONALIZED PageRank over the host graph
    (Haveliwala's topic-sensitive form) — the random surfer restarts
    at the SEED LIST instead of uniformly, so rank measures link
    proximity to the seeds: the crawl-budget prior for topic- or
    site-focused crawling, and the "related hosts" primitive (rank a
    neighborhood around a site family without a global recompute).
    Seeds derive as in web_crawl_depth (lexicographic min/max source
    host — deterministic, mirrored in SQL, present at every SF); on
    the planted ring the mass decays hop-by-hop around the cycle from
    each seed, giving a genuinely non-uniform surface where hosts far
    from both seeds hold rank 0 yet REMAIN in the output (zero is the
    "outside the neighborhood" signal, and the cdn leaf hosts collect
    pure flow-through mass with no teleport).

    Exactness: integer-micros arithmetic, true `div` floors, fixed K
    (operators/graph.pagerank with seeds) — bit-identical to the
    unrolled oracle generated from the same constants. Shape: K
    stages of edge-join + node-keyed sum; the teleport base is one
    checkpointed node-sized relation."""
    from clif_spark.operators import graph as G

    edges = materialize(_link_edges(spark, sf_dir))
    return G.pagerank(edges, iterations=3,
                      seeds=_seed_hosts(edges, "src"))


@query("web_pagerank_warm_start", oracle=_pagerank_oracle(iterations=6))
def web_pagerank_warm_start(spark, sf_dir):
    """D5c (engine ext.): INCREMENTAL rank maintenance — the contract
    that makes a standing rank table worth persisting: 3 iterations are
    computed, folded into the CDC snapshot store (the same
    upsert/read/compact format every other persisted artifact uses),
    read back, and 3 MORE iterations warm-start from the stored vector.
    Because each step is a pure function of the previous vector and
    every operation is exact integer arithmetic, stored-3 + warm-3 must
    equal 6-from-scratch BIT-FOR-BIT — which is precisely what the
    6-iteration unrolled oracle checks. No tolerance band: a single
    micro of drift anywhere (store roundtrip, init seeding, iteration
    order) flips the hash.

    Production shape: each crawl delivery extends the edge relation and
    advances the standing ranks a few iterations from the stored state
    — O(iterations x edges) per delivery, never O(history)."""
    from clif_spark import streaming as STR
    from clif_spark.operators import graph as G

    import tempfile

    # materialized once: both pagerank calls read these edges, and an
    # uncheckpointed lineage would rerun the corpus link extraction
    edges = materialize(_link_edges(spark, sf_dir))
    r3 = G.pagerank(edges, iterations=3)
    root = tempfile.mkdtemp(prefix="clif_rank_store_")
    STR.upsert_cdc_snapshot(
        r3.select("node", "rank_micros",
                  F.lit(3).cast("long").alias("__v"),
                  F.lit(False).alias("is_delete")),
        root, keys=["node"], order=["__v", "node"], lineage="host-ranks")
    stored = STR.read_cdc_snapshot(spark, root) \
                .select("node", "rank_micros")
    return G.pagerank(edges, iterations=3, init_ranks=stored)


def _weighted_pagerank_oracle(iterations: int = 3,
                              damping: int = 85) -> str:
    """Unrolled K-iteration WEIGHTED integer-micros PageRank — the SQL
    form of operators/graph.pagerank with ``weight_col`` over the host
    graph with the link extraction's DISTINCT-URL multiplicity
    (``n_urls``) as the edge weight, generated from the same constants
    so the two cannot drift: each iteration is

        s(u) = sum_{v->u} w(v,u) * (r(v) // W(v)),   W(v) = sum out-w
        r'(u) = teleport + d% * s(u) // 100
    """
    tnum = (100 - damping) * 1_000_000 // 100
    ctes = """
    we AS (SELECT src_host AS src, dst_host AS dst,
                  CAST(COUNT(DISTINCT u) AS BIGINT) AS w
           FROM linkedges GROUP BY src_host, dst_host),
    wnodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM we UNION ALL SELECT dst FROM we)),
    wnc AS (SELECT COUNT(*) AS n FROM wnodes),
    outw AS (SELECT src, SUM(w) AS tw FROM we GROUP BY src),
    wr0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS r
            FROM wnodes, wnc)"""
    prev = "wr0"
    for i in range(1, iterations + 1):
        ctes += f""",
    ws{i} AS (SELECT we.dst AS node,
                     SUM(we.w * ({prev}.r // o.tw)) AS s
              FROM we JOIN {prev} ON {prev}.node = we.src
              JOIN outw o ON o.src = we.src
              GROUP BY we.dst),
    wr{i} AS (SELECT wnodes.node,
                     CAST(({tnum} // wnc.n)
                          + ({damping} * COALESCE(ws{i}.s, 0)) // 100
                          AS BIGINT) AS r
              FROM wnodes LEFT JOIN ws{i} ON ws{i}.node = wnodes.node,
                   wnc)"""
        prev = f"wr{i}"
    return f"""
    WITH {_LINK_EDGES_CTES},
    {ctes}
    SELECT node, r AS rank_micros,
           CAST(r / 1000000.0 AS DOUBLE) AS rank
    FROM {prev}
    """


@query("web_pagerank_weighted", oracle=_weighted_pagerank_oracle())
def web_pagerank_weighted(spark, sf_dir):
    """D5c-w (engine ext.): WEIGHTED PageRank over the host graph —
    rank driven by link MULTIPLICITY, the form real crawl priors use:
    the link extraction already aggregates per-host-pair evidence
    (web_link_graph's ``n_urls`` — DISTINCT resolved URLs linking
    src→dst), and flattening that to 0/1 throws it away; here an edge
    of weight w contributes exactly w floor-divided shares
    ``r div W(v)`` of its source's rank, W(v) = total outbound weight.
    On the fixture the weights are genuinely non-uniform (every ring
    host links its cdn with multiple distinct URLs but its ring
    successor with fewer), so the ranks separate from the unweighted
    row's — a weight-ignoring regression cannot survive the hash; the
    all-weights-1 degenerate identity against the unweighted call is
    pinned bit-for-bit in tests/test_graph.py.

    Exactness: integer-micros, true `div` floors, BIGINT sums
    (operators/graph.pagerank with weight_col) — bit-identical to the
    unrolled oracle generated from the same constants. Shape: K
    stages of (weighted edges join ranks → groupBy dst sum); the
    weighted edge relation is host-pair sized and checkpointed once;
    rank vectors are host-count sized (broadcastable at web scale)."""
    from clif_spark.operators import graph as G

    return G.pagerank(
        _weighted_host_edges(spark, sf_dir), iterations=3,
        src_col="src_host", dst_col="dst_host", weight_col="n_urls")


@query("web_pagerank_weighted_warm",
       oracle=_weighted_pagerank_oracle(iterations=6),
       headline=True)  # benched since r16 (VERDICT r15 #7): graph +
       # CDC store + warm start in one row; sf10 DuckDB DNF at 300 s
def web_pagerank_weighted_warm(spark, sf_dir):
    """D5c-w-inc (engine ext.): INCREMENTAL maintenance of the
    weighted rank table — the warm-start contract extended to the
    weighted form: 3 weighted iterations fold into the CDC snapshot
    store, read back, and 3 MORE iterations warm-start from the stored
    vector; because every weighted step is a pure exact function of
    the previous vector (integer-micros, true `div` floors — per-unit
    weight shares), stored-3 + warm-3 must equal 6-from-scratch
    BIT-FOR-BIT against the 6-iteration unrolled weighted oracle. A
    standing multiplicity-aware rank table thus advances per crawl
    delivery in O(iterations x weighted edges), never O(history) —
    the production form: link evidence accumulates crawl over crawl
    and the prior keeps pace without global recomputes."""
    import tempfile

    from clif_spark import streaming as STR
    from clif_spark.operators import graph as G

    edges = materialize(_weighted_host_edges(spark, sf_dir))

    def ranks(iters, init=None):
        return G.pagerank(
            edges, iterations=iters, src_col="src_host",
            dst_col="dst_host", weight_col="n_urls",
            init_ranks=init)

    r3 = ranks(3)
    root = tempfile.mkdtemp(prefix="clif_wrank_store_")
    STR.upsert_cdc_snapshot(
        r3.select("node", "rank_micros",
                  F.lit(3).cast("long").alias("__v"),
                  F.lit(False).alias("is_delete")),
        root, keys=["node"], order=["__v", "node"],
        lineage="host-wranks")
    stored = STR.read_cdc_snapshot(spark, root) \
                .select("node", "rank_micros")
    return ranks(3, init=stored)


def _weighted_ppr_oracle(iterations: int = 3, damping: int = 85) -> str:
    """Unrolled K-iteration WEIGHTED PERSONALIZED PageRank — the
    composition of _ppr_ctes' seed teleport (lexicographic min/max
    source host) and _weighted_pagerank_oracle's multiplicity shares,
    generated from the same constants as the engine so the two cannot
    drift: each iteration is

        s(u) = sum_{v->u} w(v,u) * (r(v) // W(v)),  W(v) = sum out-w
        r'(u) = tele(u) + d% * s(u) // 100,
        tele(u) = (100-d)% * MICROS // k on seeds, 0 elsewhere.
    """
    tnum = (100 - damping) * 1_000_000 // 100
    ctes = f"""
    we AS (SELECT src_host AS src, dst_host AS dst,
                  CAST(COUNT(DISTINCT u) AS BIGINT) AS w
           FROM linkedges GROUP BY src_host, dst_host),
    wnodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM we UNION ALL SELECT dst FROM we)),
    pseeds AS (SELECT MIN(src_host) AS node FROM linkedges
               UNION
               SELECT MAX(src_host) FROM linkedges),
    sn AS (SELECT COUNT(*) AS k FROM pseeds),
    outw AS (SELECT src, SUM(w) AS tw FROM we GROUP BY src),
    wpbase AS (SELECT wnodes.node,
                      CAST(CASE WHEN wnodes.node IN
                             (SELECT node FROM pseeds)
                           THEN {tnum} // sn.k ELSE 0 END AS BIGINT)
                        AS tele
               FROM wnodes, sn),
    wp0 AS (SELECT node,
                   CAST(CASE WHEN tele > 0
                        THEN 1000000 // (SELECT k FROM sn)
                        ELSE 0 END AS BIGINT) AS r
            FROM wpbase)"""
    prev = "wp0"
    for i in range(1, iterations + 1):
        ctes += f""",
    wps{i} AS (SELECT we.dst AS node,
                      SUM(we.w * ({prev}.r // o.tw)) AS s
               FROM we JOIN {prev} ON {prev}.node = we.src
               JOIN outw o ON o.src = we.src
               GROUP BY we.dst),
    wp{i} AS (SELECT wpbase.node,
                     CAST(wpbase.tele
                          + ({damping} * COALESCE(wps{i}.s, 0)) // 100
                          AS BIGINT) AS r
              FROM wpbase LEFT JOIN wps{i} ON wps{i}.node = wpbase.node)"""
        prev = f"wp{i}"
    return f"""
    WITH {_LINK_EDGES_CTES},
    {ctes}
    SELECT node, r AS rank_micros,
           CAST(r / 1000000.0 AS DOUBLE) AS rank
    FROM {prev}
    """


@query("web_pagerank_weighted_personalized",
       oracle=_weighted_ppr_oracle())
def web_pagerank_weighted_personalized(spark, sf_dir):
    """D5c-wp (engine ext.): WEIGHTED PERSONALIZED PageRank over the
    host graph — the composition of the two gated forms and the
    actual topic-focused crawl-budget prior: the surfer restarts at
    the seed hosts (web_crawl_depth's lexicographic min/max source —
    deterministic, present at every SF) AND every host-pair edge
    carries its link-multiplicity weight (``n_urls`` distinct
    resolved URLs), so rank measures evidence-weighted link proximity
    to the seed family. On the fixture both dimensions bite: hosts
    far from the seeds hold rank 0 (outside the neighborhood), and
    among reachable hosts the cdn-vs-ring weight asymmetry separates
    the ranks from the unweighted personalized row's — a regression
    in either composition leg flips the hash.

    Exactness: integer-micros, true `div` floors
    (operators/graph.pagerank with ``weight_col`` and ``seeds``) —
    bit-identical to the unrolled seed-conditional weighted oracle
    generated from the same constants. Both degenerate identities
    (all-weights-1 == personalized; seeds=all-nodes == weighted) are
    pinned bit-for-bit in tests/test_graph.py. Shape: K stages of
    host-pair-sized edge join + node-keyed sum; teleport base one
    checkpointed node-sized relation."""
    from clif_spark.operators import graph as G

    edges = materialize(_weighted_host_edges(spark, sf_dir))
    return G.pagerank(
        edges, iterations=3, src_col="src_host", dst_col="dst_host",
        weight_col="n_urls", seeds=_seed_hosts(edges, "src_host"))


# The fixpoint labeling is a pure function of the graph, so min-label
# propagation must hash-equal the recursive-CTE closure + MIN exactly.
_HOST_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE {_LINK_EDGES_CTES},
    e2 AS (SELECT DISTINCT src_host AS src, dst_host AS dst
           FROM linkedges
           WHERE dst_host LIKE 'src%' AND src_host <> dst_host
             AND CAST(regexp_extract(src_host, '(\\d+)', 1) AS INT)
                 % 4 <> 0),
    ue AS (SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
    n2 AS (SELECT DISTINCT src AS node FROM ue),
    reach(node, lab) AS (
      SELECT node, node FROM n2
      UNION
      SELECT ue.dst, reach.lab FROM reach JOIN ue ON ue.src = reach.node),
    comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node)
    SELECT node AS host, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
             AS component_size
    FROM comp
    """


def _host_component_edges(spark, sf_dir):
    """web_host_components' gated subgraph: host-to-host cycle edges
    with every 4th dropped — five 4-host chains (see its docstring for
    why that shape is the fixture that catches single-hop and
    numeric-min bugs)."""
    return (_link_edges(spark, sf_dir)
            .filter(F.col("dst").startswith("src"))
            .filter(F.col("src") != F.col("dst"))
            .filter(F.regexp_extract("src", r"(\d+)", 1)
                    .cast("int") % 4 != 0))


@query("web_host_components", oracle=_HOST_COMPONENTS_ORACLE,
       headline=True)
def web_host_components(spark, sf_dir):
    """D5d (engine ext.): connected components over the host graph —
    the ITERATIVE-FIXPOINT class (pagerank is fixed-K; this converges
    and PROVES it): min-label propagation until a round changes
    nothing (operators/graph.connected_components), gated exactly
    against a recursive-CTE transitive closure + MIN. Production use:
    host-cluster discovery (site families / mirror farms share a
    component; crawl budgets and dedup scopes are assigned per
    cluster, not per host).

    The gated subgraph keeps only host-to-host cycle edges and drops
    every 4th one (src_n with n % 4 == 0), partitioning the planted
    20-host ring into FIVE 4-host chains — so the result is genuinely
    multi-component and transitive (labels must travel 3 hops), and
    one component's minimum is 'src10' (< 'src9' LEXICOGRAPHICALLY),
    which a numeric-min or single-hop bug would both flip.

    Shape: O(diameter) rounds of edge-join + node-min-agg over a
    host-count-sized label relation (broadcastable at web scale),
    one lineage cut per round, loud failure past max_iters."""
    from clif_spark.operators import graph as G
    from pyspark.sql import Window

    comp = G.connected_components(_host_component_edges(spark, sf_dir))
    return comp.select(
        F.col("node").alias("host"), "component",
        F.count(F.lit(1)).over(Window.partitionBy("component"))
         .cast("long").alias("component_size"))


# SCC oracle: the recursive reachability closure self-joined on MUTUAL
# reachability — reach(v, w) AND reach(w, v) — then MIN(w) per v. The
# gated subgraph is the component rows' five 4-host chains PLUS
# reversed copies of the edges whose source number is even or ≡3 mod 4,
# turning the middle+tail of every chain into a directed 3-cycle: five
# 3-host SCCs ({2,3,4}, {6,7,8}, {10,11,12}, {14,15,16}, {18,19,0})
# and five singletons (1, 5, 9, 13, 17). Mutual reachability inside a
# cycle needs TWO hops through the intermediate (2→3→4 and 4→3→2), so
# a single-hop-symmetry bug dies here; '{src10,src11,src12}' labels as
# 'src10...' (< 'src11' numerically-adjacent but also the LEX min) and
# '{src18,src19,src0}' as 'src0...' — a weakly-connected-components
# shortcut would merge whole chains and flip both.
_HOST_SCC_ORACLE = f"""
    WITH RECURSIVE {_LINK_EDGES_CTES},
    e2 AS (SELECT DISTINCT src_host AS src, dst_host AS dst
           FROM linkedges
           WHERE dst_host LIKE 'src%' AND src_host <> dst_host
             AND CAST(regexp_extract(src_host, '(\\d+)', 1) AS INT)
                 % 4 <> 0),
    eall AS (
      SELECT src, dst FROM e2
      UNION
      SELECT dst, src FROM e2
      WHERE CAST(regexp_extract(src, '(\\d+)', 1) AS INT) % 2 = 0
         OR CAST(regexp_extract(src, '(\\d+)', 1) AS INT) % 4 = 3),
    n2 AS (SELECT src AS node FROM eall
           UNION SELECT dst FROM eall),
    reach(src, dst) AS (
      SELECT node, node FROM n2
      UNION
      SELECT r.src, e.dst FROM reach r JOIN eall e ON e.src = r.dst),
    scc AS (
      SELECT r1.src AS node, MIN(r1.dst) AS component
      FROM reach r1
      JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
      GROUP BY r1.src)
    SELECT node AS host, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
             AS component_size
    FROM scc
    """


def _host_scc_edges(spark, sf_dir):
    """The SCC rows' gated subgraph: the component fixture's five
    directed chains plus reversed copies where the source number is
    even or ≡3 mod 4 — five 3-host directed cycles with the chain
    heads left as one-way tails (see _HOST_SCC_ORACLE's comment for
    the expected partition)."""
    n = F.regexp_extract("src", r"(\d+)", 1).cast("int")
    fwd = F.struct("src", "dst")
    back = F.struct(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # one pass over the link lineage: each row emits itself, plus its
    # reversal where the source number qualifies
    return (_host_component_edges(spark, sf_dir)
            .select(F.explode(
                F.when((n % 2 == 0) | (n % 4 == 3), F.array(fwd, back))
                 .otherwise(F.array(fwd))).alias("__e"))
            .select("__e.src", "__e.dst"))


@query("web_host_scc", oracle=_HOST_SCC_ORACLE, headline=True)
def web_host_scc(spark, sf_dir):
    """D5f (engine ext.): STRONGLY connected components over the host
    graph — the directed refinement of web_host_components, and the
    primitive under web-graph structure analysis (Broder et al.'s
    bowtie: the giant SCC is the web's core; crawl schedulers treat
    SCC membership as a reachability-equivalence class — any member
    reaches every other, so per-SCC budgets subsume per-host ones on
    mutually-linked site families, while one-way mirror tails stay
    separate components that weak connectivity would wrongly merge).

    Iterative forward/backward min-label coloring to fixpoint
    (operators/graph.strongly_connected_components), gated EXACTLY
    against a recursive closure self-joined on mutual reachability —
    component(v) = MIN(node over v's SCC) is a pure function of the
    graph, so no tolerance band. The fixture partitions twenty hosts
    into five 3-cycles + five one-way tails (see the oracle comment):
    weak-vs-strong, multi-hop mutuality, and the 'src10' < 'src9'
    lexicographic trap are all load-bearing.

    Shape: O(settle rounds) x one fused forward/backward min-label
    fixpoint, each round two edge-joins + one node-min-agg over
    broadcastable node-sized labels on a shrinking subgraph, one
    checkpoint job per round; loud failure past the shared FIXPOINT
    budget."""
    from pyspark.sql import Window

    from clif_spark.operators import graph as G

    scc = G.strongly_connected_components(_host_scc_edges(spark, sf_dir))
    return scc.select(
        F.col("node").alias("host"), "component",
        F.count(F.lit(1)).over(Window.partitionBy("component"))
         .cast("long").alias("component_size"))


# Registered-domain fixture: the corpus hosts are uniform
# (*.example.com), so the suffix dim lists BOTH 'com' and
# 'example.com' (longest-match is load-bearing: every srcN host's
# registered domain is itself, not 'example.com') and literal hosts
# are planted for the other branches — a deep co.uk subdomain (multi-
# label suffix), a host that IS a listed suffix (NULL reg_domain), an
# unlisted TLD (the PSL default last-label rule), a single-label
# listed host, an exactly-suffix+1 host, and (r14) the full wildcard/
# exception family: '*.ck' makes 'bar.ck' a public suffix (reg NULL)
# and 'foo.bar.ck' registrable, bare 'ck' falls through the wildcard
# to the default rule, '!www.ck' overrides the wildcard so 'www.ck'
# registers (and 'sub.www.ck' registers to 'www.ck'), and a
# mixed-case host exercises the case-insensitive matching with the
# original bytes preserved in the output (ADVICE r13). Literals are
# part of the query definition, mirrored VALUES-for-createDataFrame
# (the kcore chord pattern).
_REGDOM_SUFFIXES = ["com", "co.uk", "example.com", "localhost",
                    "*.ck", "!www.ck"]
_REGDOM_EXTRA_HOSTS = ["deep.sub.shop.megacorp.co.uk", "co.uk",
                       "tracker.weird.zz", "localhost",
                       "megacorp.co.uk", "foo.bar.ck", "bar.ck",
                       "www.ck", "sub.www.ck", "ck",
                       "Shop.MegaCorp.CO.UK"]
_HOST_REGDOM_ORACLE = f"""
    WITH {_LINK_EDGES_CTES},
    rhosts AS (
      SELECT DISTINCT host FROM (
        SELECT src_host AS host FROM linkedges
        UNION SELECT dst_host FROM linkedges
        UNION SELECT * FROM (VALUES {", ".join(f"('{h}')" for h in _REGDOM_EXTRA_HOSTS)}) x(host))),
    rbase AS (SELECT host, string_split(lower(host), '.') AS ls,
                     len(string_split(lower(host), '.')) AS n
              FROM rhosts),
    rcands AS (SELECT host, n, n - i + 1 AS k,
                      array_to_string(ls[i:n], '.') AS cand
               FROM rbase, unnest(range(1, n + 1)) t(i)),
    rraw AS (SELECT * FROM (VALUES {", ".join(f"('{s}')" for s in _REGDOM_SUFFIXES)}) s(rule)),
    rsfx AS (
      SELECT CASE WHEN body LIKE '*.%' THEN substr(body, 3)
                  ELSE body END AS cand,
             is_exc, body LIKE '*.%' AS wild
      FROM (SELECT rule LIKE '!%' AS is_exc,
                   CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
                        ELSE rule END AS body
            FROM rraw)),
    rmatch AS (SELECT host,
                      MAX(CASE WHEN is_exc THEN 1000 + k - 1
                               WHEN wild THEN k + 1
                               ELSE k END) AS prio
               FROM rcands JOIN rsfx USING (cand)
               WHERE NOT wild OR k < n
               GROUP BY host),
    rout AS (SELECT b.host, b.ls, b.n,
                    COALESCE(CASE WHEN m.prio >= 1000
                                  THEN m.prio - 1000
                                  ELSE m.prio END, 1) AS k
             FROM rbase b LEFT JOIN rmatch m ON m.host = b.host)
    SELECT host,
           array_to_string(ls[n - k + 1 : n], '.') AS public_suffix,
           CASE WHEN n > k
                THEN array_to_string(ls[n - k : n], '.') END
             AS reg_domain
    FROM rout
    """


@query("web_registered_domain", oracle=_HOST_REGDOM_ORACLE)
def web_registered_domain(spark, sf_dir):
    """D7b (engine ext.): registered-domain (eTLD+1) extraction over
    the crawl's host universe — the SITE grouping key governance
    budgets actually use (functions/url.registered_domains), now over
    the COMPLETE PSL rule algebra: public suffix = the prevailing
    rule (matching exception first, else longest match) with plain,
    WILDCARD ('*.ck' consumes one extra label) and EXCEPTION
    ('!www.ck' carves a registrable island out of the wildcard)
    rules; unlisted tails fall back to the rightmost label (the PSL
    default rule); registered domain = suffix + one label, NULL when
    the host IS a suffix; matching is case-insensitive with the
    original host bytes preserved. All branches are planted (see the
    fixture comment): the dual 'com'/'example.com' listing makes
    longest-match load-bearing for every corpus host, and the ck
    family makes each wildcard/exception/default interaction flip a
    distinct row.

    Scale shape (the reason this is an operator, not a UDF): each
    host explodes into its own suffix chain and EQUI-joins the
    broadcast rule dim — a hash probe per (host x label), never the
    broadcast nested-loop an endswith-against-rules predicate would
    plan (wildcards join on their literal tail; the extra label is
    one predicate, exceptions one priority column); the prevailing
    rule is one MAX per host."""
    edges = _link_edges(spark, sf_dir)
    hosts = (edges.select(F.col("src").alias("host"))
             .unionByName(edges.select(F.col("dst").alias("host")))
             .unionByName(spark.createDataFrame(
                 [(h,) for h in _REGDOM_EXTRA_HOSTS], "host string"))
             .distinct())
    sfx = spark.createDataFrame([(s,) for s in _REGDOM_SUFFIXES],
                                "suffix string")
    return urlfn.registered_domains(hosts, sfx)


def _kcore_ctes(k: int, rounds: int) -> str:
    """Unrolled k-core peeling rounds in SQL — the oracle form of
    operators/graph.k_core, generated from the same k so the two
    cannot drift. Peeling is idempotent at fixpoint, so unrolling
    MORE rounds than the fixture needs is harmless (extra rounds are
    no-ops); only too FEW would truncate — ``rounds`` is sized at
    2x the fixture's longest chain (the peel-depth bound: a chain of
    E edges dissolves in ceil(E/2) rounds), vs the measured 3-round
    convergence.

    Every peel CTE is MATERIALIZED: each round references its
    predecessor twice and the chain is ``rounds`` deep, so inlined
    CTEs re-evaluate the whole upstream chain exponentially —
    measured 210 s inlined vs 0.4 s materialized at sf0.001, same
    7 rows (the SQL mirror of the engine's own per-round
    lineage-cut lesson)."""
    parts = []
    prev = "ka0"
    for i in range(1, rounds + 1):
        parts.append(f"""
    kd{i} AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM
        (SELECT u AS node, v AS other FROM ke0
         UNION ALL SELECT v, u FROM ke0) s{i}
      WHERE node IN (SELECT node FROM {prev})
        AND other IN (SELECT node FROM {prev})
      GROUP BY node),
    ka{i} AS MATERIALIZED (SELECT node FROM kd{i} WHERE d >= {k})""")
        prev = f"ka{i}"
    return ",".join(parts), prev.replace("ka", "kd")


_KCORE_K = 2
_KCORE_ROUNDS = 8
_KCORE_CHORDS = [("src3.example.com", "src1.example.com"),
                 ("src12.example.com", "src9.example.com")]
_KCORE_BODY, _KCORE_LAST = _kcore_ctes(_KCORE_K, _KCORE_ROUNDS)

# k-core oracle: the component fixture's five 4-host chains (trees —
# NO 2-core at all) plus two planted chords closing a triangle
# (1-2-3) and a 4-cycle (9-10-11-12). Peeling must CASCADE: chain
# ends drop in round 1, their newly-exposed neighbors in round 2 —
# a one-pass degree filter would leave the chain middles in. The
# chord literals are part of the query definition (like BM25F's
# query terms), mirrored VALUES-for-createDataFrame.
_HOST_KCORE_ORACLE = f"""
    WITH {_LINK_EDGES_CTES},
    e2 AS (SELECT DISTINCT src_host AS src, dst_host AS dst
           FROM linkedges
           WHERE dst_host LIKE 'src%' AND src_host <> dst_host
             AND CAST(regexp_extract(src_host, '(\\d+)', 1) AS INT)
                 % 4 <> 0),
    kraw AS (
      SELECT src, dst FROM e2
      UNION ALL
      SELECT * FROM (VALUES {", ".join(f"('{a}', '{b}')" for a, b in _KCORE_CHORDS)}) ch(src, dst)),
    ke0 AS (SELECT DISTINCT LEAST(src, dst) AS u,
                            GREATEST(src, dst) AS v
            FROM kraw WHERE src <> dst),
    ka0 AS (SELECT u AS node FROM ke0 UNION SELECT v FROM ke0),
    {_KCORE_BODY}
    SELECT node AS host, CAST(d AS BIGINT) AS core_degree
    FROM {_KCORE_LAST} WHERE d >= {_KCORE_K}
    """


@query("web_host_kcore", oracle=_HOST_KCORE_ORACLE)
def web_host_kcore(spark, sf_dir):
    """D5h (engine ext.): the 2-CORE of the host graph — iterative
    degree PEELING to fixpoint (operators/graph.k_core): drop every
    host whose degree among survivors is below k, recompute, repeat.
    The k-core is unique (peel order cannot change it), so the loop
    gates exactly against its own rounds unrolled in SQL. Production
    use: link-farm cores (organic neighborhoods shed under peeling,
    near-cliques survive — the k-core is THE standard spam-density
    cut) and densification before per-node analysis.

    The fixture makes the CASCADE load-bearing: the five directed
    chains are trees (no 2-core — they must dissolve COMPLETELY, ends
    first, middles in later rounds; a one-pass degree filter leaves
    the middles in), and two planted chords close a triangle
    {{src1,src2,src3}} and a 4-cycle {{src9..src12}} — the only
    survivors, each at core degree exactly 2.

    Shape: O(peel depth) rounds, each two semi-joins + one node-keyed
    count over node-sized broadcastable relations; exact shrinking-
    count certificate; loud failure past the shared FIXPOINT budget."""
    from clif_spark.operators import graph as G

    chords = spark.createDataFrame(_KCORE_CHORDS,
                                   "src string, dst string")
    edges = (_host_component_edges(spark, sf_dir)
             .unionByName(chords))
    return G.k_core(edges, _KCORE_K).select(
        F.col("node").alias("host"), "core_degree")


# Bowtie oracle: same recursive closure, SCC labeling, then the Broder
# decomposition relative to the LARGEST SCC (tie-break: min component
# label): core = the giant SCC, in = reaches core, out = reached from
# core, other = neither. The gated subgraph is the full 20-host ring
# minus the edges out of src4 and src19 (breaking the cycle into one
# long path) plus reversed copies where 8 <= n <= 14 — core {8..15}
# (labeled 'src10...', the lex-min trap a third time), IN {5,6,7}
# (one-way path into src8), OUT {16..19} (one-way path out of src15),
# OTHER {0..4} (the orphaned head: 19->0 and 4->5 are the cut edges,
# so it neither reaches nor is reached). A node classified both ways
# would have to be IN the core (mutual reachability), so the CASE
# order is safe, not load-bearing.
_BOWTIE_ORACLE = f"""
    WITH RECURSIVE {_LINK_EDGES_CTES},
    ring AS MATERIALIZED (SELECT DISTINCT src_host AS src, dst_host AS dst
             FROM linkedges
             WHERE dst_host LIKE 'src%' AND src_host <> dst_host
               AND CAST(regexp_extract(src_host, '(\\d+)', 1) AS INT)
                   NOT IN (4, 19)),
    eall AS (
      SELECT src, dst FROM ring
      UNION
      SELECT dst, src FROM ring
      WHERE CAST(regexp_extract(src, '(\\d+)', 1) AS INT)
            BETWEEN 8 AND 14),
    n2 AS (SELECT src AS node FROM eall
           UNION SELECT dst FROM eall),
    reach(src, dst) AS (
      SELECT node, node FROM n2
      UNION
      SELECT r.src, e.dst FROM reach r JOIN eall e ON e.src = r.dst),
    scc AS (
      SELECT r1.src AS node, MIN(r1.dst) AS component
      FROM reach r1
      JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
      GROUP BY r1.src),
    core AS (
      SELECT component FROM (
        SELECT component, COUNT(*) AS c FROM scc GROUP BY component)
      ORDER BY c DESC, component LIMIT 1),
    corenodes AS (
      SELECT node FROM scc
      WHERE component = (SELECT component FROM core))
    SELECT s.node AS host,
           CASE WHEN s.component = (SELECT component FROM core)
                  THEN 'core'
                WHEN EXISTS (SELECT 1 FROM reach r JOIN corenodes c
                             ON r.dst = c.node WHERE r.src = s.node)
                  THEN 'in'
                WHEN EXISTS (SELECT 1 FROM reach r JOIN corenodes c
                             ON r.src = c.node WHERE r.dst = s.node)
                  THEN 'out'
                ELSE 'other' END AS bowtie_class
    FROM scc s
    """


@query("web_bowtie_classes", oracle=_BOWTIE_ORACLE)
def web_bowtie_classes(spark, sf_dir):
    """D5g (engine ext.): the Broder BOWTIE decomposition of the host
    graph ("Graph structure in the Web", Broder et al. 2000) — the
    macro-structure report every serious crawl operation reads: the
    giant SCC is the CORE the crawler lives in, IN hosts feed it
    (reachable-from there but one-way — where new seeds pay off), OUT
    hosts are sinks (reached but never leading back — where depth caps
    bind), and OTHER is unreachable tendril/island mass (frontier
    coverage gaps). Composed ENTIRELY from the gated fixpoint
    primitives: strongly_connected_components for the core (largest
    SCC, min-label tie-break), bfs_depths over the reversed relation
    for IN (nodes that reach the core), bfs_depths forward for OUT —
    no new iterative code, which is the point of having the class.

    Exactness: each primitive is a pure function of the graph and the
    tie-break is deterministic, so the class labeling is exactly
    SQL-mirrorable (recursive closure + EXISTS). The fixture's four
    regions are all non-empty (see the oracle comment) — a
    weak-components shortcut, a direction flip in either BFS, or a
    wrong tie-break each flips a whole region.

    Shape: the SCC rounds dominate (shrinking subgraph fixpoints);
    the two BFS legs are O(path length) rounds over broadcastable
    depth relations; the classifier itself is three node-sized left
    joins — no corpus shuffle anywhere past the link extraction."""
    from clif_spark.operators import graph as G

    ring = (_link_edges(spark, sf_dir)
            .filter(F.col("dst").startswith("src"))
            .filter(F.col("src") != F.col("dst")))
    n = F.regexp_extract("src", r"(\d+)", 1).cast("int")
    e = ring.filter(~n.isin(4, 19))
    rev = (e.filter((n >= 8) & (n <= 14))
           .select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # one materialization: the SCC pass and both BFS legs re-read it
    edges = materialize(e.unionByName(rev).distinct())

    # read three times below; SCC's colouring exit already returns a
    # materialization, so no copy is made here
    scc = G.strongly_connected_components(edges)
    sizes = scc.groupBy("component").agg(F.count(F.lit(1)).alias("__c"))
    core_lab = (sizes.orderBy(F.desc("__c"), F.asc("component"))
                .limit(1).select("component"))
    core = materialize(scc.join(F.broadcast(core_lab), "component", "semi")
                       .select("node"))
    rev_edges = edges.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))
    reaches_core = G.bfs_depths(rev_edges, core).select("node")
    reached_from = G.bfs_depths(edges, core).select("node")
    # Size-gated broadcast on the three node-sized classifier joins
    # (r18, guide §3.1 — the triangle_counts gate): the fixpoint outputs
    # are checkpointed LogicalRDDs with unknown inherited estimates, so
    # the planner ran all three left joins as SortMergeJoins even on a
    # 20-node fixture (r17 audit). core/in/out are node subsets, so the
    # scc bound covers all three sides: measured 0.178 -> 0.138 s at
    # sf0.1 and 0.258 -> 0.186 s at sf1 on the isolated classifier, plan
    # 3 SMJ -> 3 BHJ (OPTIMIZATION_r18.md).
    if fits_broadcast(scc, ["node"]):
        core = F.broadcast(core)
        reaches_core = F.broadcast(reaches_core)
        reached_from = F.broadcast(reached_from)
    return (scc
            .join(core.withColumn("__core", F.lit(1)), "node", "left")
            .join(reaches_core.withColumn("__in", F.lit(1)),
                  "node", "left")
            .join(reached_from.withColumn("__out", F.lit(1)),
                  "node", "left")
            .select(F.col("node").alias("host"),
                    F.when(F.col("__core") == 1, F.lit("core"))
                     .when(F.col("__in") == 1, F.lit("in"))
                     .when(F.col("__out") == 1, F.lit("out"))
                     .otherwise(F.lit("other")).alias("bowtie_class")))


@query(
    "web_crawl_depth",
    oracle=f"""
    WITH RECURSIVE {_LINK_EDGES_CTES},
    e3 AS MATERIALIZED (SELECT DISTINCT src_host AS src, dst_host AS dst
           FROM linkedges),
    reach(node, d) AS (
      SELECT node, 0 FROM (
        SELECT MIN(src_host) AS node FROM linkedges
        UNION
        SELECT MAX(src_host) FROM linkedges) s
      UNION
      SELECT e3.dst, reach.d + 1 FROM reach JOIN e3 ON e3.src = reach.node
      WHERE reach.d < {FIXPOINT_MAX_ITERS})
    SELECT node AS host, CAST(MIN(d) AS BIGINT) AS depth
    FROM reach GROUP BY node
    """,
)
def web_crawl_depth(spark, sf_dir):
    """D5e (engine ext.): minimum link-hop depth of every host from
    the crawl's seed list — the frontier-scheduling prior (depth caps
    are how real crawls bound politeness cost and trap exposure; a
    host's seed distance is a budget input alongside its rank).
    Iterative min-relaxation to fixpoint (operators/graph.bfs_depths)
    over the DIRECTED host graph; gated exactly against a
    depth-bounded recursive closure + MIN. The two seeds are DERIVED
    from the edge relation (lexicographic min and max source host —
    deterministic, mirrored in SQL, and present at every scale factor;
    a planted literal would vanish under the scale generator's
    differently-spelled host names). Unreachable hosts are absent by
    contract (the crawler never sees them); on the shipped ring the
    seeds sit at src0/src9, depths run 0-10, and the cdn hosts land at
    min-over-referrers + 1 — a genuinely non-uniform surface.

    Shape: O(max shortest path) rounds, each one edge join + min-agg
    with a broadcastable depth relation; self-loops planted by the
    fixture are harmless (d+1 never relaxes d)."""
    from clif_spark.operators import graph as G

    # ONE corpus extraction: the raw edge list is checkpointed here so
    # the seed aggregate and bfs_depths' distinct both read the
    # materialized host-edge relation, not the full link-extraction
    # lineage twice (sf10: 17.4 s -> single-scan cost)
    edges = materialize(_link_edges(spark, sf_dir))
    return G.bfs_depths(edges, _seed_hosts(edges, "src")).select(
        F.col("node").alias("host"), F.col("depth"))


# --- D6: the prioritized crawl frontier ------------------------------------


_FRONTIER_PR = _pagerank_ctes(iterations=3)
_FRONTIER_U = _sql_canon_of("u")


@query(
    "web_crawl_frontier",
    oracle=f"""
    WITH {_LINK_EDGES_CTES},
    {_ROBOTS_RULES_CTES},
    {_FRONTIER_PR[0]},
    fcanon AS (
      SELECT {_FRONTIER_U['canon']} AS url,
             {_FRONTIER_U['host']} AS fhost,
             {_FRONTIER_U['path']} AS fpath
      FROM linkedges),
    frontier AS (
      SELECT url, fhost, fpath, CAST(COUNT(*) AS BIGINT) AS n_referrers
      FROM fcanon GROUP BY url, fhost, fpath),
    fmt AS (
      SELECT f.url, r.allow, length(r.prefix) AS plen
      FROM frontier f JOIN rrules r
        ON f.fhost = r.host AND starts_with(f.fpath, r.prefix)),
    fb AS (
      SELECT url, NOT bool_or(allow AND plen = maxplen) AS blocked
      FROM (SELECT url, allow, plen,
                   max(plen) OVER (PARTITION BY url) AS maxplen
            FROM fmt)
      GROUP BY url),
    rdelay AS (
      -- CEILING of the decimal value, mirroring
      -- functions/robots.py::robots_crawl_delay (a bare string->BIGINT
      -- cast rounds differently across engines on fractional delays)
      SELECT g.host,
             MAX(CAST(ceil(TRY_CAST(trim(g.ln[13:]) AS DECIMAL(18,6)))
                 AS BIGINT)) AS crawl_delay_s
      FROM rgrouped g JOIN rwild w ON g.host = w.host AND g.grp = w.grp
      WHERE starts_with(g.ln, 'crawl-delay:')
        AND TRY_CAST(trim(g.ln[13:]) AS DECIMAL(18,6)) IS NOT NULL
      GROUP BY g.host),
    sched AS (
      SELECT f.fhost AS host, f.url, f.n_referrers,
             CAST(pr.r AS BIGINT) AS rank_micros,
             coalesce(d.crawl_delay_s, 1) AS delay
      FROM frontier f
      JOIN {_FRONTIER_PR[1]} pr ON pr.node = f.fhost
      LEFT JOIN fb ON fb.url = f.url
      LEFT JOIN rdelay d ON d.host = f.fhost
      WHERE NOT coalesce(fb.blocked, FALSE))
    SELECT host, url, n_referrers, rank_micros,
           CAST(row_number() OVER w AS BIGINT) AS fetch_slot,
           CAST((row_number() OVER w - 1) * delay AS BIGINT) AS eta_s
    FROM sched
    WINDOW w AS (PARTITION BY host
                 ORDER BY n_referrers DESC, rank_micros DESC, url)
    """,
)
def web_crawl_frontier(spark, sf_dir):
    """D6 (engine ext.): the PRIORITIZED CRAWL FRONTIER — the round's
    governance artifacts composed into the relation a crawl scheduler
    actually consumes. Discovered out-links (full RFC 3986 resolution)
    canonicalize and dedup into frontier URLs with referrer counts;
    each URL carries its host's PageRank (3 exact integer-micros
    iterations over the same link graph); robots longest-match verdicts
    EXCLUDE blocked URLs outright; Crawl-delay budgets turn per-host
    fetch slots (ordered by referrer count, rank, then URL — a
    deterministic total order) into integer ETA seconds. Every
    upstream operator — resolver, canonicalizer, rule parser,
    precedence verdict, PageRank, delay parse — feeds one hash-gated
    answer: the next crawl's schedule.

    Shape at 100 TB: frontier extraction is the link-graph pass (one
    fan-out + one URL-keyed aggregation); ranks, rules, and delays are
    all HOST-count sized and ride broadcast joins; the only other
    exchange is the per-host scheduling window, keyed by host —
    frontier-sized, like the URL dedup every crawler runs anyway."""
    from clif_spark.functions import robots as robotsfn
    from clif_spark.operators import graph as G

    links = _link_urls(spark, sf_dir)
    frontier = (links.select(
        urlfn.canonicalize_url("u").alias("url"),
        urlfn.url_host("u").alias("host"),
        urlfn.url_path("u").alias("path"))
        .groupBy("url", "host", "path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_referrers")))
    edges = links.select(F.col("src_host").alias("src"),
                         urlfn.url_host("u").alias("dst"))
    ranks = (G.pagerank(edges, iterations=3)
             .select(F.col("node").alias("host"), "rank_micros"))
    d = io.load_table(spark, sf_dir, "documents")
    robots = _robots_bodies(d)
    rules = robotsfn.robots_rules(robots)
    delays = robotsfn.robots_crawl_delay(robots)
    tagged = robotsfn.apply_robots_rules(frontier, rules)
    sched = (tagged.filter(~F.col("robots_blocked"))
             .join(F.broadcast(ranks), "host")
             .join(F.broadcast(delays), "host", "left")
             .select("host", "url", "n_referrers", "rank_micros",
                     F.coalesce("crawl_delay_s", F.lit(1))
                      .cast("long").alias("delay")))
    w = Window.partitionBy("host").orderBy(
        F.col("n_referrers").desc(), F.col("rank_micros").desc(),
        F.col("url"))
    rn = F.row_number().over(w)
    return sched.select(
        "host", "url", "n_referrers", "rank_micros",
        rn.cast("long").alias("fetch_slot"),
        ((rn - 1) * F.col("delay")).cast("long").alias("eta_s"))


# --- the full crawl-to-corpus funnel --------------------------------------


def _quality_logit_sql(expr: str) -> str:
    """DuckDB mirror of the planted-weight quality logit (the
    text_quality_classifier arithmetic, parameterized over its input
    expression so the funnel can score EXTRACTED text)."""
    toks = f"regexp_split_to_array(trim(lower({expr})), '\\s+')"
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({toks}, "
        f"t -> CAST((((('0x' || substr(md5('qc:' || t), 1, 8))"
        f"::BIGINT % 1024) * 2654435761) % 2001) - 1000 AS DOUBLE))), "
        f"(h, x) -> h + x) / len({toks}) / 1000")


# Shared by the batch funnel and its streaming twin (settled stream
# must equal the batch relation — the stream_web_ingest/u9 pattern).
_CRAWL_FUNNEL_ORACLE = f"""
    WITH {_CANON_CTES},
    {_ROBOTS_RULES_CTES},
    {_ROBOTS_VERDICT_CTES},
    page AS (
      SELECT doc_id, source, {_PAGE_HTML_SQL} AS html FROM documents),
    ext AS (
      SELECT doc_id, {_sql_html_to_text('html')} AS t FROM page),
    doc AS (
      SELECT p.doc_id, p.host, e.t, c.canonical_url,
             coalesce(rb.blocked, FALSE) AS blocked,
             ({_quality_logit_sql('e.t')}) > 0 AS qpass
      FROM parts p
      JOIN ext e ON e.doc_id = p.doc_id
      JOIN canon c ON c.doc_id = p.doc_id
      LEFT JOIN rbest rb ON rb.doc_id = p.doc_id),
    kept AS (
      SELECT host, t FROM doc
      WHERE NOT blocked AND qpass
      QUALIFY row_number() OVER (PARTITION BY canonical_url
                                 ORDER BY length(t) DESC, doc_id) = 1),
    kagg AS (
      SELECT host, COUNT(*) AS nk, SUM(length(t)) AS chars
      FROM kept GROUP BY host),
    stage AS (
      SELECT host,
             COUNT(*) AS n_fetched,
             COUNT(CASE WHEN blocked THEN 1 END) AS n_robots_blocked,
             COUNT(CASE WHEN NOT blocked AND NOT qpass THEN 1 END)
               AS n_quality_dropped,
             COUNT(CASE WHEN NOT blocked AND qpass THEN 1 END)
               AS n_eligible
      FROM doc GROUP BY host)
    SELECT s.host,
           CAST(s.n_fetched AS BIGINT) AS n_fetched,
           CAST(s.n_robots_blocked AS BIGINT) AS n_robots_blocked,
           CAST(s.n_quality_dropped AS BIGINT) AS n_quality_dropped,
           CAST(s.n_eligible - coalesce(k.nk, 0) AS BIGINT) AS n_url_dups,
           CAST(coalesce(k.nk, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(k.chars, 0) AS BIGINT) AS kept_chars
    FROM stage s LEFT JOIN kagg k ON k.host = s.host
    """


@query("pipeline_crawl_corpus", oracle=_CRAWL_FUNNEL_ORACLE)
def pipeline_crawl_corpus(spark, sf_dir):
    """The COMPLETE crawl-to-corpus funnel, every web-surface operator
    chained in crawl order and gated as ONE relation: WARC container
    (build -> mixed plain/gz shards -> parse; the legs cancel in the
    oracle exactly as in pipeline_web_ingest) -> HTML->text extraction
    -> robots.txt PARSED from bodies and applied as a prefix gate ->
    classifier-based quality filtering on the EXTRACTED text -> URL
    canonicalize + keep-best dedup -> per-host funnel report (fetched /
    robots-blocked / quality-dropped / URL-dups / kept docs + chars).
    Any single-stage drift — container corruption, an extraction rule,
    a robots group boundary, one classifier weight, a canonicalization
    rule, the keep-best tiebreak — flips the hash.

    Shape at 100 TB: parse parallelism = shard count; extraction,
    scoring, and canonicalization are ONE fused narrow pass over the
    parsed rows; robots rules ride broadcast; the only corpus-keyed
    exchanges are the URL-dedup window and the host aggregation — the
    same two the standalone rows pay. Governance state (rules, ranks,
    host stats) is host-count sized throughout."""
    from clif_spark.functions import robots as robotsfn

    d = io.load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.expr(_PAGE_HTML_SQL).alias("page"),
        F.expr(_DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % _shard_count(d)).alias("file_id"))
    files = warc.assemble_warc_files(
        warc.build_warc_records(docs, payload_col="page"),
        gzip_records="mixed")
    parsed = warc.parse_warc(files)
    base = parsed.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
         .alias("doc_id"),
        F.regexp_extract("target_uri", rf"{_URL_PRE}([^/]+)/", 1)
         .alias("source"),
        curation.html_to_text(F.col("payload").cast("string"))
         .alias("t"))
    enriched = base.select(
        "doc_id", "t",
        urlfn.url_host(_RAW_URL_SQL).alias("host"),
        urlfn.url_path(_RAW_URL_SQL).alias("path"),
        urlfn.canonicalize_url(_RAW_URL_SQL).alias("canonical_url"))
    robots = _robots_bodies(d)
    rules = robotsfn.robots_rules(robots)
    tagged = robotsfn.apply_robots_rules(enriched, rules)

    def w_of(b):
        return (((b * F.lit(2654435761)) % F.lit(2001)) - F.lit(1000)) \
            .cast("double")

    qpass = (curation.quality_classifier_logit(
        F.col("t"), dim=1024, weight_of=w_of) / F.lit(1000)) > 0
    flagged = tagged.select(
        "doc_id", "host", "canonical_url",
        F.length("t").alias("tlen"),
        F.col("robots_blocked").alias("blocked"),
        qpass.alias("qpass"))
    stage = flagged.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetched"),
        F.count_if(F.col("blocked")).cast("long")
         .alias("n_robots_blocked"),
        F.count_if(~F.col("blocked") & ~F.col("qpass")).cast("long")
         .alias("n_quality_dropped"),
        F.count_if(~F.col("blocked") & F.col("qpass")).cast("long")
         .alias("n_eligible"))
    w = Window.partitionBy("canonical_url").orderBy(
        F.col("tlen").desc(), F.col("doc_id"))
    kept = (flagged.filter(~F.col("blocked") & F.col("qpass"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    kagg = kept.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("tlen").cast("long").alias("chars"))
    return (stage.join(kagg, "host", "left")
            .select("host", "n_fetched", "n_robots_blocked",
                    "n_quality_dropped",
                    (F.col("n_eligible") - F.coalesce("nk", F.lit(0)))
                    .cast("long").alias("n_url_dups"),
                    F.coalesce("nk", F.lit(0)).cast("long")
                     .alias("n_kept"),
                    F.coalesce("chars", F.lit(0)).cast("long")
                     .alias("kept_chars")))


@query("stream_crawl_corpus", oracle=_CRAWL_FUNNEL_ORACLE)
def stream_crawl_corpus(spark, sf_dir):
    """The crawl-to-corpus funnel as a CONTINUOUSLY MAINTAINED corpus:
    WARC shards land as files and drain as micro-batches (availableNow
    + maxFilesPerTrigger=1); each batch runs the full per-doc chain
    (parse -> extract -> robots longest-match verdict -> quality logit
    -> canonicalize) and folds into TWO standing stores inside
    foreachBatch:

    - per-host funnel COUNTERS via the additive aggregate fold
      (fold_agg_snapshot, batch_id as the replay-safe ordinal — a
      redelivered shard is skipped by the pointer guard, mandatory
      because addition double-counts);
    - the kept corpus via the CDC snapshot upsert keyed on
      canonical_url with order (tlen, -doc_id): keep-BEST-by-length
      with the id tiebreak, the same total order as the batch funnel's
      row_number window — and, being keep-max, idempotent under replay
      and batch-order independent with no ledger.

    The settled report (counters joined to the kept store's per-host
    rollup) must equal the one-shot batch funnel via the SHARED
    pipeline_crawl_corpus oracle — the settled-equals-batch contract
    every other maintained store in the engine carries.

    Production shape: each delivery costs O(shard) extraction plus
    O(touched keys) store maintenance — a crawl's corpus advances
    delivery by delivery with no recompute of history; the kept store
    is the URL-deduped corpus itself, readable at any version (time
    travel) while the stream runs."""
    import tempfile

    from clif_spark import streaming
    from clif_spark.functions import robots as robotsfn

    d = io.load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.expr(_PAGE_HTML_SQL).alias("page"),
        F.expr(_DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % _shard_count(d)).alias("file_id"))
    files = warc.assemble_warc_files(
        warc.build_warc_records(docs, payload_col="page"),
        gzip_records="mixed")
    scratch = tempfile.mkdtemp(prefix="clif_stream_funnel_src_")
    files.repartition(4).write.mode("overwrite").parquet(scratch)
    robots = _robots_bodies(d)
    rules = materialize(robotsfn.robots_rules(robots))
    counters_root = tempfile.mkdtemp(prefix="clif_funnel_counters_")
    kept_root = tempfile.mkdtemp(prefix="clif_funnel_kept_")
    ckpt = tempfile.mkdtemp(prefix="clif_stream_funnel_ckpt_")

    def w_of(b):
        return (((b * F.lit(2654435761)) % F.lit(2001)) - F.lit(1000)) \
            .cast("double")

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        parsed = warc.parse_warc(batch_df)
        base = parsed.select(
            F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
             .alias("doc_id"),
            F.regexp_extract("target_uri", rf"{_URL_PRE}([^/]+)/", 1)
             .alias("source"),
            curation.html_to_text(F.col("payload").cast("string"))
             .alias("t"))
        enriched = base.select(
            "doc_id", "t",
            urlfn.url_host(_RAW_URL_SQL).alias("host"),
            urlfn.url_path(_RAW_URL_SQL).alias("path"),
            urlfn.canonicalize_url(_RAW_URL_SQL).alias("canonical_url"))
        tagged = robotsfn.apply_robots_rules(enriched, rules)
        qpass = (curation.quality_classifier_logit(
            F.col("t"), dim=1024, weight_of=w_of) / F.lit(1000)) > 0
        flagged = materialize(tagged.select(
            "doc_id", "host", "canonical_url",
            F.length("t").alias("tlen"),
            F.col("robots_blocked").alias("blocked"),
            qpass.alias("qpass")))
        counters = flagged.groupBy("host").agg(
            F.count(F.lit(1)).cast("long").alias("n_fetched"),
            F.count_if(F.col("blocked")).cast("long")
             .alias("n_robots_blocked"),
            F.count_if(~F.col("blocked") & ~F.col("qpass")).cast("long")
             .alias("n_quality_dropped"),
            F.count_if(~F.col("blocked") & F.col("qpass")).cast("long")
             .alias("n_eligible"))
        streaming.fold_agg_snapshot(
            counters, counters_root, keys=["host"], version=batch_id,
            add_cols=["n_fetched", "n_robots_blocked",
                      "n_quality_dropped", "n_eligible"],
            lineage="crawl-funnel-counters")
        eligible = (flagged.filter(~F.col("blocked") & F.col("qpass"))
                    .select("canonical_url", "host", "doc_id", "tlen",
                            (-F.col("doc_id")).alias("__negdoc"),
                            F.lit(False).alias("is_delete")))
        streaming.upsert_cdc_snapshot(
            eligible, kept_root, keys=["canonical_url"],
            order=["tlen", "__negdoc"], lineage="crawl-funnel-kept")

    stream = (spark.readStream.schema(files.schema)
                   .option("maxFilesPerTrigger", 1).parquet(scratch))
    q = (stream.writeStream.foreachBatch(sink)
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True).start())
    q.awaitTermination()

    counters = streaming.read_cdc_snapshot(spark, counters_root)
    kept = streaming.read_cdc_snapshot(spark, kept_root)
    kagg = kept.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("tlen").cast("long").alias("chars"))
    return (counters.join(kagg, "host", "left")
            .select("host", "n_fetched", "n_robots_blocked",
                    "n_quality_dropped",
                    (F.col("n_eligible") - F.coalesce("nk", F.lit(0)))
                    .cast("long").alias("n_url_dups"),
                    F.coalesce("nk", F.lit(0)).cast("long")
                     .alias("n_kept"),
                    F.coalesce("chars", F.lit(0)).cast("long")
                     .alias("kept_chars")))


# --- S9c: WET export (conversion records) ---------------------------------


@query(
    "pipeline_wet_export",
    oracle=f"""
    WITH page AS (
      SELECT doc_id, {_PAGE_HTML_SQL} AS html FROM documents)
    SELECT doc_id,
           {_sql_html_to_text('html')} AS extracted,
           CAST(length({_sql_html_to_text('html')}) AS BIGINT) AS n_chars,
           'conversion' AS warc_type
    FROM page
    """,
)
def pipeline_wet_export(spark, sf_dir):
    """S9c (engine ext.): WET EXPORT — the extracted-text archive
    Common Crawl publishes alongside every WARC (``.warc.wet``:
    ``conversion`` records whose payload is the visible text of the
    corresponding response capture). The full derivation chain is
    gated as one inversion: page HTML -> response WARC shards (mixed
    plain/gz) -> parse -> HTML->text extraction -> build
    ``conversion`` records (text/plain payloads, URIs carried from
    the captures) -> assemble WET shards -> parse THOSE back — the
    final parsed WET records must equal the direct extraction off the
    documents table doc for doc, with the record type pinned. Both
    container legs must cancel exactly; a corruption in either
    serialize/parse pass, or any extraction-rule drift, flips the
    hash.

    100 TB shape: both legs are per-file streaming parses with
    parallelism = shard count (how Common Crawl actually ships WET);
    extraction is the fused narrow pass between them. No shuffle
    anywhere — the only exchanges are the two file assemblies the
    harness itself plants."""
    d = io.load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.expr(_PAGE_HTML_SQL).alias("page"),
        F.expr(_DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % _shard_count(d)).alias("file_id"))
    warc_files = warc.assemble_warc_files(
        warc.build_warc_records(docs, payload_col="page"),
        gzip_records="mixed")
    captures = warc.parse_warc(warc_files)
    wet_doc_id = F.regexp_extract("target_uri", r"/(\d+)$", 1) \
                  .cast("long")
    wet_rows = captures.select(
        F.col("target_uri").alias("url"),
        curation.html_to_text(F.col("payload").cast("string"))
         .alias("wet_text"),
        wet_doc_id.alias("doc_id"),
        (wet_doc_id % _shard_count(d)).alias("file_id"))
    wet_files = warc.assemble_warc_files(
        warc.build_warc_aux_records(
            wet_rows, "conversion", "wet_text",
            content_type="text/plain"),
        gzip_records="mixed")
    wet = warc.parse_warc(wet_files)
    return wet.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
         .alias("doc_id"),
        F.col("payload").cast("string").alias("extracted"),
        F.length(F.col("payload").cast("string")).cast("long")
         .alias("n_chars"),
        F.col("warc_type"))


# --- S9d: WAT export (metadata JSON records) -------------------------------


@query(
    "pipeline_wat_export",
    oracle=f"""
    WITH page AS (
      SELECT doc_id, source || '.example.com' AS src_host,
             {_LINK_PAGE_SQL} AS html,
             {_DOC_URL_SQL} AS uri
      FROM documents)
    SELECT doc_id,
           uri,
           CAST(strlen(html) AS BIGINT) AS content_length,
           CAST(len(regexp_extract_all(html, 'href="')) AS BIGINT)
             AS n_links,
           'metadata' AS warc_type
    FROM page
    """,
)
def pipeline_wat_export(spark, sf_dir):
    """S9d (engine ext.): WAT EXPORT — the per-capture metadata archive
    Common Crawl publishes alongside WARC/WET (``.warc.wat``:
    ``metadata`` records whose JSON payload describes each response:
    target URI, content length, outlink count). Gated as one
    inversion: link pages -> response WARC shards -> parse -> per-
    capture JSON build (pure concat — our own format, mirrored
    byte-for-byte) -> ``metadata`` records -> WAT shards -> parse back
    -> ``from_json`` TYPED extraction of the described fields, which
    must equal the direct computation off the documents table. The
    from_json leg also pins JSON WELL-FORMEDNESS: a malformed payload
    parses to NULLs and flips the hash. Completes the crawl-artifact
    trio (io_warc_roundtrip / pipeline_wet_export / this).

    100 TB shape: identical to the WET leg — per-file streaming
    parses at shard-count parallelism, one fused narrow JSON-build
    pass between them, zero shuffles."""
    d = io.load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.expr(_LINK_PAGE_SQL).alias("page"),
        F.expr(_DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % _shard_count(d)).alias("file_id"))
    warc_files = warc.assemble_warc_files(
        warc.build_warc_records(docs, payload_col="page"),
        gzip_records="mixed")
    captures = warc.parse_warc(warc_files)
    body = F.col("payload").cast("string")
    wat_json = F.concat(
        F.lit('{"uri":"'), F.col("target_uri"),
        F.lit('","content_length":'),
        F.octet_length("payload").cast("string"),
        F.lit(',"n_links":'),
        F.coalesce(F.size(F.regexp_extract_all(
            body, F.lit('(href=")'), F.lit(1))), F.lit(0))
         .cast("string"),
        F.lit("}"))
    cap_doc_id = F.regexp_extract("target_uri", r"/(\d+)$", 1) \
                  .cast("long")
    wat_rows = captures.select(
        F.col("target_uri").alias("url"),
        wat_json.alias("wat_json"),
        cap_doc_id.alias("doc_id"),
        (cap_doc_id % _shard_count(d)).alias("file_id"))
    wat_files = warc.assemble_warc_files(
        warc.build_warc_aux_records(
            wat_rows, "metadata", "wat_json",
            content_type="application/json"),
        gzip_records="mixed")
    wat = warc.parse_warc(wat_files)
    parsed = wat.withColumn(
        "j", F.from_json(
            F.col("payload").cast("string"),
            "uri STRING, content_length BIGINT, n_links BIGINT"))
    return parsed.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
         .alias("doc_id"),
        F.col("j.uri").alias("uri"),
        F.col("j.content_length").alias("content_length"),
        F.col("j.n_links").alias("n_links"),
        F.col("warc_type"))


# --- S9e: CDX capture index over WARC shards -----------------------------

_CRLF_SQL = "chr(13) || chr(10)"

# Shared by web_cdx_index and web_cdx_point_lookup: the oracle's
# INDEPENDENT rebuild of the WARC record template's byte arithmetic
# (warc.py::build_warc_records is the engine side) ending in
# surted(doc_id, text, uri, file_id, record_offset, surt_key).
_CDX_CTES = f"""
    cdxdocs AS (
      SELECT doc_id, text, {_DOC_URL_SQL} AS uri,
             doc_id % GREATEST(8, (SELECT COUNT(*) FROM documents)
                                  // 8192) AS file_id
      FROM documents),
    cdxhb AS (
      SELECT *, 'HTTP/1.1 200 OK' || {_CRLF_SQL} ||
        'Content-Type: text/html; charset=utf-8' || {_CRLF_SQL} ||
        'Content-Length: ' || CAST(strlen(text) AS VARCHAR) ||
        {_CRLF_SQL} || {_CRLF_SQL} || text AS http_block
      FROM cdxdocs),
    cdxrec AS (
      SELECT *, strlen(
        'WARC/1.1' || {_CRLF_SQL} ||
        'WARC-Type: response' || {_CRLF_SQL} ||
        'WARC-Record-ID: <urn:uuid:' ||
        substr(md5(uri), 1, 8) || '-' || substr(md5(uri), 9, 4) || '-' ||
        substr(md5(uri), 13, 4) || '-' || substr(md5(uri), 17, 4) ||
        '-' || substr(md5(uri), 21, 12) || '>' || {_CRLF_SQL} ||
        'WARC-Date: 2026-01-01T00:00:00Z' || {_CRLF_SQL} ||
        'WARC-Target-URI: ' || uri || {_CRLF_SQL} ||
        'Content-Type: application/http;msgtype=response' ||
        {_CRLF_SQL} ||
        'Content-Length: ' || CAST(strlen(http_block) AS VARCHAR)
        || {_CRLF_SQL} || {_CRLF_SQL} || http_block
        || {_CRLF_SQL} || {_CRLF_SQL}) AS rec_len
      FROM cdxhb),
    cdxoff AS (
      SELECT *, CAST(SUM(rec_len) OVER (PARTITION BY file_id
        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        CURRENT ROW) - rec_len AS BIGINT) AS record_offset
      FROM cdxrec),
    surted AS (
      SELECT *,
        array_to_string(list_reverse(string_split(regexp_extract(uri,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '.')), ',')
        || ')' || regexp_extract(uri,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS surt_key
      FROM cdxoff)
"""

_CDX_SELECT = """
    SELECT surt_key, '2026-01-01T00:00:00Z' AS ts, uri,
           md5(text) AS digest,
           CAST(strlen(text) AS BIGINT) AS resp_len,
           CAST(file_id AS BIGINT) AS file_id, record_offset,
           regexp_extract(surt_key, '\\)/([^/]+)', 1) AS cdx_shard,
           CAST(row_number() OVER (PARTITION BY
             regexp_extract(surt_key, '\\)/([^/]+)', 1)
             ORDER BY surt_key) AS BIGINT) AS shard_rank
    FROM surted
"""


def _cdx_files_and_index(spark, sf_dir, members: bool = False):
    """(shard blobs, CDX index rows) — the shared build for the gated
    S9e rows: documents -> WARC shards (mixed layout) -> parse ->
    SURT-keyed index rows with the parser-reported record offset.
    ``members=True`` parses through ``warc.parse_warc_members`` and
    carries each capture's COMPRESSED member span (member_offset,
    member_length) alongside — the Common Crawl CDX convention whose
    range reads skip prefix decompression entirely."""
    d = io.load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "text", F.expr(_DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % _shard_count(d)).alias("file_id"))
    files = warc.assemble_warc_files(
        warc.build_warc_records(docs), gzip_records="mixed")
    parsed = (warc.parse_warc_members(files) if members
              else warc.parse_warc(files))
    return files, _cdx_rank(_cdx_rows(parsed, members))


def _cdx_rows(parsed, members: bool = False):
    """Parsed WARC records -> unranked CDX index rows (SURT key,
    capture metadata, shard pointer) — factored so the one-shot build
    and the STREAMING maintenance fold (stream_cdx_maintain) derive
    rows through one code path: per-delivery rows fold into the
    standing store; the in-block rank is a property of the whole index
    and is attached at read time by _cdx_rank, never stored."""
    auth = F.regexp_extract(
        "target_uri", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    path = F.regexp_extract(
        "target_uri", r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    surt = F.concat(
        F.array_join(F.reverse(F.split(auth, r"\.")), ","),
        F.lit(")"), path)
    span_cols = ([F.col("member_offset"), F.col("member_length")]
                 if members else [])
    return parsed.select(
        surt.alias("surt_key"),
        F.col("warc_date").alias("ts"),
        F.col("target_uri").alias("uri"),
        F.md5("payload_text").alias("digest"),
        F.octet_length("payload").cast("long").alias("resp_len"),
        F.col("file_id").cast("long").alias("file_id"),
        F.col("record_offset"),
        F.regexp_extract(surt, r"\)/([^/]+)", 1).alias("cdx_shard"),
        *span_cols)


def _cdx_rank(idx):
    w = Window.partitionBy("cdx_shard").orderBy("surt_key")
    return idx.withColumn("shard_rank",
                          F.row_number().over(w).cast("long"))


#: One oracle for the one-shot index build AND its streaming
#: maintenance twin (settled store must equal the batch build).
CDX_INDEX_ORACLE = f"WITH {_CDX_CTES} {_CDX_SELECT}"


@query("web_cdx_index", oracle=CDX_INDEX_ORACLE)
def web_cdx_index(spark, sf_dir):
    """S9e (engine ext.): CDX capture index — the lookup artifact
    Common Crawl publishes beside its WARC shards (cdx-*.gz: one line
    per capture, SURT-sorted, pointing at the shard file + byte offset
    of the record) and the thing that makes 100 TB of WARC randomly
    accessible: find a URL's captures by binary-searching the index,
    then range-read ONE record from ONE shard.

    Gated as a full inversion: documents -> WARC shards (mixed
    plain/gzip layout) -> parse -> per-capture index rows keyed by the
    SURT form of the URI (authority reversed comma-joined + ')' +
    path, so one host's captures are contiguous under lexicographic
    order), each carrying the shard file id and the PARSER-reported
    record offset — which must equal the oracle's independent
    byte-arithmetic rebuild of the record template (a one-byte drift
    in builder, parser, or gzip-member accounting flips the hash; the
    gzip legs pin that offsets are into DECOMPRESSED bytes). Captures
    are blocked by their SURT's first path segment with an in-block
    rank — the deterministic stand-in for the range-partitioned
    cdx-NNNNN sharding a real deployment gets from
    repartitionByRange over sampled key quantiles.

    100 TB shape: the index build is the WARC parse (file-count
    parallel, no shuffle) plus ONE exchange on the block key for the
    in-block sort — the same shape as writing any range-partitioned
    sorted artifact; md5 digests are the dedup-across-crawls hook
    (CDX's revisit detection). Digest is md5 hex, not CDX's
    SHA1-base32 — same role, no SHA1 in either engine (documented
    deviation)."""
    _, idx = _cdx_files_and_index(spark, sf_dir)
    return idx


@query(
    "web_cdx_point_lookup",
    oracle=f"""
    WITH {_CDX_CTES},
    cdx AS ({_CDX_SELECT})
    SELECT CAST(regexp_extract(c.uri, '/(\\d+)$', 1) AS BIGINT)
             AS doc_id,
           c.uri AS target_uri, d.text,
           c.file_id, c.record_offset
    FROM cdx c
    JOIN documents d
      ON d.doc_id = CAST(regexp_extract(c.uri, '/(\\d+)$', 1) AS BIGINT)
    WHERE c.shard_rank % 17 = 0 AND c.file_id IN (0, 3)
    """,
)
def web_cdx_point_lookup(spark, sf_dir):
    """S9e-read (engine ext.): the index actually USED — a lookup set
    (every 17th capture per CDX block) resolves through the index to
    (shard, offset) pairs — restricted to TWO of the shards, so most
    blobs must go UNREAD — and ``warc.read_records_at`` fetches
    EXACTLY those records: lookups group per shard, inner-join onto
    the blobs (the untouched shards are pruned by the join — the
    pruning the index exists to buy, exercised here, one plain shard
    and one gzip shard), plain shards slice at the offset directly,
    gzip shards stream-decompress then slice (offsets are into
    decompressed bytes; the compressed-member-offset variant that
    avoids even this is documented in read_records_at). Each fetched
    record's URI and payload must round-trip to the documents table —
    an off-by-one anywhere in the offset chain surfaces as a parse
    failure or the wrong document's text, both hash-visible.

    100 TB shape: cost scales with the LOOKUP set (touched shards x
    decompress + per-hit parse), not the corpus — the random-access
    contract; the only exchanges are the lookup-set groupBy and the
    broadcast-sized join of grouped lookups onto shard blobs."""
    files, idx = _cdx_files_and_index(spark, sf_dir)
    # two shards only: the lookup set must leave most shards
    # untouched so the inner-join pruning the operator exists for is
    # exercised (and measurable) in the gated row itself
    picks = (idx.filter((F.col("shard_rank") % 17 == 0)
                        & F.col("file_id").isin(0, 3))
                .select("file_id", "record_offset"))
    recs = warc.read_records_at(files, picks)
    return recs.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
         .alias("doc_id"),
        "target_uri",
        F.col("payload").cast("string").alias("text"),
        F.col("file_id").cast("long").alias("file_id"),
        "record_offset")


def _cdx_member_picks(spark, sf_dir):
    """(shard blobs, lookup picks WITH member spans) — the shared
    lookup set of the member-offset rows: every 17th capture per CDX
    block restricted to two shards, exactly web_cdx_point_lookup's
    pick rule, so the three read-path rows stay comparable."""
    files, idx = _cdx_files_and_index(spark, sf_dir, members=True)
    picks = idx.filter((F.col("shard_rank") % 17 == 0)
                       & F.col("file_id").isin(0, 3))
    return files, picks


@query("web_cdx_member_lookup", oracle=None)
def web_cdx_member_lookup(spark, sf_dir):
    """S9h (engine ext., rows-only): point lookup by COMPRESSED member
    span — the Common Crawl CDX convention (cdx files carry the
    member's stored offset+length, not a decompressed offset), and the
    O(record) cold-lookup path: slice exactly (member_offset,
    member_length) bytes out of the shard, inflate that ONE gzip
    member (or parse the plain slice directly), done. No prefix
    decompression ever happens, so lookup cost is independent of where
    in a multi-GB shard the record sits — at 100 TB this is a ranged
    GET per hit, the difference between a lookup service and a batch
    job (read_records_at's decompressed-offset form pays the prefix).

    Registered ROWS-ONLY: member spans depend on deflate output, which
    no SQL mirror can reproduce — the hash-gateable artifact is the
    equality contract (web_cdx_member_contract) pinning this path's
    fetched records byte-for-byte against the decompressed-offset path
    under the oracle-verified pick set."""
    files, picks = _cdx_member_picks(spark, sf_dir)
    recs = warc.read_records_at_members(
        files, picks.select("file_id", "member_offset", "member_length"))
    return recs.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
         .alias("doc_id"),
        "target_uri",
        F.col("payload").cast("string").alias("text"),
        F.col("file_id").cast("long").alias("file_id"),
        "member_offset", "member_length")


@query(
    "web_cdx_member_contract",
    oracle=f"""
    WITH {_CDX_CTES},
    cdx AS ({_CDX_SELECT})
    SELECT CAST(regexp_extract(c.uri, '/(\\d+)$', 1) AS BIGINT)
             AS doc_id,
           c.uri AS target_uri, TRUE AS paths_agree
    FROM cdx c
    WHERE c.shard_rank % 17 = 0 AND c.file_id IN (0, 3)
    """,
)
def web_cdx_member_contract(spark, sf_dir):
    """S9h's driver-gated contract twin (the rows-only pattern): fetch
    the SAME oracle-verified lookup set through BOTH random-access
    paths — member-span range read (read_records_at_members) and
    decompressed-offset read (read_records_at) — join per capture, and
    emit ``paths_agree`` = record type, URI, payload bytes, and text
    decode all equal null-safely. The oracle re-derives the pick set
    by byte arithmetic and asserts TRUE, so a one-byte drift in member
    boundary accounting (walker, builder, or gzip framing) flips a
    value the hash gate sees; a member path returning an invalid row
    drops the join row and flips the row count instead."""
    files, picks = _cdx_member_picks(spark, sf_dir)
    via_member = warc.read_records_at_members(
        files, picks.select("file_id", "member_offset", "member_length"))
    via_offset = warc.read_records_at(
        files, picks.select("file_id", "record_offset"))
    m = via_member.select(
        F.col("target_uri"),
        F.col("warc_type").alias("m_type"),
        F.col("payload").alias("m_payload"),
        F.col("payload_text").alias("m_text"))
    o = via_offset.select(
        F.col("target_uri"),
        F.col("warc_type").alias("o_type"),
        F.col("payload").alias("o_payload"),
        F.col("payload_text").alias("o_text"))
    agree = (F.col("m_type").eqNullSafe(F.col("o_type"))
             & F.col("m_payload").eqNullSafe(F.col("o_payload"))
             & F.col("m_text").eqNullSafe(F.col("o_text")))
    return (m.join(o, ["target_uri"], "inner")
             .select(
                 F.regexp_extract("target_uri", r"/(\d+)$", 1)
                  .cast("long").alias("doc_id"),
                 "target_uri",
                 agree.alias("paths_agree")))


# --- D7c: Sitemap: discovery from robots.txt ------------------------------


@query(
    "web_robots_sitemap_discovery",
    oracle=f"""
    WITH smsrcs AS (SELECT DISTINCT source FROM documents),
    smrobots AS (
      SELECT source || '.example.com' AS host, {_ROBOTS_TXT_SQL} AS txt
      FROM smsrcs),
    smlines AS (
      SELECT host, trim(regexp_replace(regexp_replace(
        unnest(string_split(txt, chr(10))), chr(13), ''),
        '#.*$', '')) AS raw
      FROM smrobots),
    smfound AS (
      SELECT host, trim(raw[9:]) AS sitemap_loc
      FROM smlines
      WHERE starts_with(lower(raw), 'sitemap:')
        AND trim(raw[9:]) <> '')
    SELECT host, sitemap_loc,
           lower(regexp_extract(sitemap_loc,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) <> host
             AS cross_host
    FROM smfound
    """,
)
def web_robots_sitemap_discovery(spark, sf_dir):
    """D7c (engine ext.): ``Sitemap:`` discovery — the robots.txt
    directive that closes the governance chain into seeding
    (robots.txt names the sitemaps; the sitemap/index rows parse them;
    the frontier schedules the seeds). Group-independent per
    sitemaps.org, so the parse is deliberately OUTSIDE the
    agent-group machinery — and outside its line-lowercasing, which
    would corrupt the case-sensitive URL (the planted
    ``/shared/Sitemap.xml`` pins the case survival; the uppercase
    ``SITEMAP:`` line pins case-insensitive directive matching; the
    cdn-hosted line pins the cross-host FLAG — legal per protocol,
    policy decides trust). The rules/delay parsers must keep IGNORING
    these lines — a leak into a prefix rule flips the precedence rows'
    hashes, which re-gate beside this row.

    Shape: host-count sized (one body per host), line explode + narrow
    projection, zero Python, zero corpus-keyed exchanges beyond the
    source distinct."""
    from clif_spark.functions import robots as robotsfn

    d = io.load_table(spark, sf_dir, "documents")
    robots = _host_bodies(d, _ROBOTS_BODY)
    return robotsfn.robots_sitemaps(robots)


# --- F17b: main-content extraction (block link-density boilerplate cut) ---


def _sql_block_visible(e: str) -> str:
    """DuckDB mirror of curation._block_visible: inline tags -> space,
    entity decode (&amp; LAST), whitespace collapse + trim."""
    out = f"regexp_replace({e}, '<[^>]+>', ' ', 'g')"
    for ent, ch in curation.HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{ch_sql}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


_MAIN_PAGE_SQL = (
    "'<html><head><style>nav{color:red}</style>"
    "<script>var x = \"<a href=junk>decoy</a>\";</script></head><body>"
    "<nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a> "
    "<a href=\"/contact\">Contact page</a></nav>"
    "<div class=\"ad\">Ad</div>"
    "<p>' || substring(text, 1, 120) || ' article body paragraph number ' "
    "|| CAST(doc_id % 40 AS STRING) || "
    "' with one inline <a href=\"/ref\">reference</a> citation "
    "kept as content.</p>"
    "<p>Second short but sufficient prose block for doc ' || "
    "CAST(doc_id AS STRING) || ' here.</p>"
    "<footer><a href=\"/tos\">Terms of service</a> "
    "<a href=\"/privacy\">Privacy policy</a> (c) corp</footer>"
    "</body></html>'")


def _main_content_oracle() -> str:
    vis = _sql_block_visible("b")
    # coalesce: DuckDB's array_to_string of an EMPTY list is NULL
    # (Spark's array_join is '') — an anchor-FREE block would
    # NULL-propagate through the density and silently drop
    atext_src = ("coalesce(array_to_string(regexp_extract_all(b, "
                 "'(?is)<a\\b[^>]*>(.*?)</a>', 1), ' '), '')")
    avis = _sql_block_visible(atext_src)
    keep = (f"length({vis}) >= {curation.MAIN_MIN_BLOCK_CHARS} "
            f"AND floor(length({avis}) * 100 / "
            f"greatest(length({vis}), 1)) "
            f"<= {curation.MAIN_MAX_LINK_DENSITY_PCT}")
    return f"""
    WITH mp AS (
      SELECT doc_id, {_MAIN_PAGE_SQL} AS page FROM documents),
    stripped AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(page,
          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g') AS page
      FROM mp),
    blocks AS (
      SELECT doc_id, list_filter(string_split_regex(page,
        '{curation.MAIN_BLOCK_SPLIT_RE}'), b -> {keep}) AS kept
      FROM stripped)
    SELECT doc_id,
           array_to_string(list_transform(kept,
             b -> {vis}), ' ') AS main_text,
           CAST(len(kept) AS BIGINT) AS n_blocks
    FROM blocks
    """


@query("text_main_content", oracle=_main_content_oracle(),
       headline=True)
def text_main_content(spark, sf_dir):
    """F17b (engine ext.): MAIN-content extraction — block-level
    boilerplate removal by link density (jusText/boilerpipe's core
    heuristic), the step a real pretraining pipeline runs where
    ``text_html_extract`` keeps every visible character: the planted
    page's nav (anchor-only), footer (anchor-dominated), and
    too-short ad div must all drop while both prose paragraphs —
    including the INLINE reference link's text, which is content —
    survive. Density is integer percent so the classification is
    bit-exact across engines; the script decoy plants an ``<a>`` tag
    inside executable content that page-level script-stripping must
    remove BEFORE the block split (a leak shows up as a phantom
    block).

    Shape: page-level regexp passes + one split + one higher-order
    filter/transform — fused, shuffle-free, linear per page; the
    same zero-exchange class as text_html_extract."""
    d = io.load_table(spark, sf_dir, "documents")
    # Share the kept-blocks array between the text and the count (r17,
    # guide §1.2 per-task work): the previous shape spelled the
    # strip+split+filter chain twice (once inside
    # extract_main_content, once inline for n_blocks) and codegen's
    # subexpression elimination did NOT fuse them across the two
    # higher-order-function trees — the page paid every regex twice
    # (measured: full 0.84 s ≈ main-only 0.53 + count-only 0.46 at
    # sf0.1). Materializing the array under an alias in its own
    # Project survives CollapseProject (a non-cheap alias referenced
    # twice is not inlined), so the chain now runs once; the projected
    # values are the same array, so main_text and n_blocks are
    # bit-identical (same-session A/B: 0.73 vs 1.28 s, results
    # compared equal).
    kept = curation.main_content_blocks(F.expr(_MAIN_PAGE_SQL))
    return (d.select("doc_id", kept.alias("__kept"))
            .select("doc_id",
                    F.array_join(
                        F.transform("__kept", curation._block_visible),
                        " ").alias("main_text"),
                    F.size("__kept").cast("long").alias("n_blocks")))


# --- S9f: cross-crawl revisit / mirror classification ---------------------

# The previous crawl's captures, one text each for both engines: 3/4 of
# the URIs were crawled before, and every fifth of those has changed
# content since (its old digest differs); every thirteenth doc was also
# captured at a mirror host.
_PREV_DIGEST_SQL = ("CASE WHEN doc_id % 5 = 0 THEN md5(text || '-v0') "
                    "ELSE md5(text) END")
_MIRROR_URI_SQL = ("'https://mirror.example/' || source || '/' || "
                   "CAST(doc_id AS STRING)")
_PREV_CAPS_SQL = f"""
      SELECT {_DOC_URL_SQL} AS uri, {_PREV_DIGEST_SQL} AS digest
      FROM documents WHERE doc_id % 4 <> 3
      UNION ALL
      SELECT {_MIRROR_URI_SQL}, md5(text)
      FROM documents WHERE doc_id % 13 = 0"""


def _prev_caps(d):
    """(uri, digest) of the previous crawl — ``_PREV_CAPS_SQL``."""
    return (d.filter("doc_id % 4 <> 3")
            .selectExpr(f"{_DOC_URL_SQL} AS uri",
                        f"{_PREV_DIGEST_SQL} AS digest")
            .unionByName(d.filter("doc_id % 13 = 0").selectExpr(
                f"{_MIRROR_URI_SQL} AS uri", "md5(text) AS digest")))


@query(
    "web_cdx_revisit",
    oracle=f"""
    WITH cur AS (
      SELECT doc_id, {_DOC_URL_SQL} AS uri, md5(text) AS digest
      FROM documents),
    prev_all AS ({_PREV_CAPS_SQL}),
    by_digest AS (
      SELECT digest, COUNT(DISTINCT uri) AS n_uris,
             MIN(uri) AS one_uri
      FROM prev_all GROUP BY digest),
    by_uri AS (SELECT uri, MIN(digest) AS prev_digest
               FROM prev_all GROUP BY uri)
    SELECT c.doc_id, c.uri, c.digest,
           CASE
             WHEN u.prev_digest = c.digest THEN 'revisit_unchanged'
             WHEN u.prev_digest IS NOT NULL THEN 'refetch_changed'
             WHEN d.n_uris > 1 OR (d.n_uris = 1 AND d.one_uri <> c.uri)
               THEN 'mirror_dup'
             ELSE 'new'
           END AS verdict
    FROM cur c
    LEFT JOIN by_uri u ON u.uri = c.uri
    LEFT JOIN by_digest d ON d.digest = c.digest
    """,
)
def web_cdx_revisit(spark, sf_dir):
    """S9f (engine ext.): cross-crawl REVISIT/MIRROR classification —
    the decision the CDX digest column exists for (Common Crawl's
    revisit records; CC-Net's crawl-over-crawl dedup): each capture of
    the new crawl checks the standing index and classifies as
    ``revisit_unchanged`` (same URI, same digest — the fetch a
    conditional GET would have skipped; wins over everything),
    ``refetch_changed`` (same URI, new digest — content moved on),
    ``mirror_dup`` (digest already indexed under a DIFFERENT URI — a
    CDN/mirror copy, route to URL-level dedup), or ``new``. Fixtures
    plant all four observably: 3/4 of URIs were crawled before, every
    fifth of those changed content, every thirteenth doc also exists
    at a mirror host (for already-revisited URIs the uri-level verdict
    must WIN the precedence — pinned by construction).

    100 TB shape: ONE digest-keyed aggregation over the standing index
    (index-sized, not corpus-sized output) and two keyed joins (uri,
    digest) — exactly the shuffles any cross-crawl dedup pays; no
    Python, no window. The standing index side is what
    ``web_cdx_index`` persists crawl over crawl."""
    d = io.load_table(spark, sf_dir, "documents")
    cur = d.select("doc_id", F.expr(_DOC_URL_SQL).alias("uri"),
                   F.md5("text").alias("digest"))
    prev_all = _prev_caps(d)
    by_uri = (prev_all.groupBy("uri")
              .agg(F.min("digest").alias("prev_digest")))
    by_digest = (prev_all.groupBy("digest")
                 .agg(F.countDistinct("uri").cast("long").alias("n_uris"),
                      F.min("uri").alias("one_uri")))
    joined = (cur
              .join(by_uri, ["uri"], "left")
              .join(by_digest, ["digest"], "left"))
    verdict = (
        F.when(F.col("prev_digest") == F.col("digest"),
               F.lit("revisit_unchanged"))
         .when(F.col("prev_digest").isNotNull(),
               F.lit("refetch_changed"))
         .when((F.col("n_uris") > 1)
               | ((F.col("n_uris") == 1)
                  & (F.col("one_uri") != F.col("uri"))),
               F.lit("mirror_dup"))
         .otherwise(F.lit("new")))
    return joined.select("doc_id", "uri", "digest",
                         verdict.alias("verdict"))


@query(
    "web_warc_revisit_roundtrip",
    oracle=f"""
    SELECT {_DOC_URL_SQL} AS uri,
           CASE WHEN doc_id % 4 <> 3 AND doc_id % 5 <> 0
                THEN 'revisit' ELSE 'response' END AS warc_type,
           md5(text) AS resolved_digest,
           CAST(CASE WHEN doc_id % 4 <> 3 AND doc_id % 5 <> 0
                     THEN 0 ELSE strlen(text) END AS BIGINT)
             AS stored_bytes
    FROM documents
    """,
)
def web_warc_revisit_roundtrip(spark, sf_dir):
    """S9f write side (engine ext.): revisit-record EMISSION — the
    storage half of crawl-over-crawl dedup web_cdx_revisit only
    classified. Crawl 1 (the web_cdx_revisit prev fixture: 3/4 of
    URIs, every fifth with since-changed content) is built, sharded
    and parsed into a standing CDX-style index (uri, digest, file_id,
    record_offset, record_id). Crawl 2 refetches EVERYTHING; each
    capture whose digest matches its own URI's indexed digest is
    written as a WARC ``revisit`` record (identical-payload-digest
    profile — NO payload stored, just the digest + refers-to headers,
    warc.build_warc_revisit_records), everything else as a full
    response. The crawl-2 shards are then read back COLD: response
    rows resolve from their own payload; revisit rows carry zero
    payload bytes and resolve through the INDEX — (uri, digest)
    pairs back to the referred capture's (file_id, record_offset) and
    read_records_at fetches the original bytes from the crawl-1
    shards. The gate checks the full loop: every capture's resolved
    digest must equal md5 of its true text, and stored_bytes must be
    0 exactly on the revisit class (the measured storage saving — at
    typical unchanged-rates most of a recrawl stores as pointers).

    100 TB shape: the index is capture-count sized (never corpus
    sized); emission is one uri-keyed join against it; resolution is
    the same O(record) point-read path the CDX rows gate. No new
    exchange class — the write side reuses the read side's index."""
    d = io.load_table(spark, sf_dir, "documents")
    nshards = _shard_count(d)
    # --- crawl 1: build, shard, index ---
    prev_pay = (F.when(F.col("doc_id") % 5 == 0,
                       F.concat("text", F.lit("-v0")))
                .otherwise(F.col("text")))
    prev_docs = (d.filter(F.col("doc_id") % 4 != 3)
                 .select("doc_id", F.expr(_DOC_URL_SQL).alias("url"),
                         prev_pay.alias("ptext"),
                         (F.col("doc_id") % nshards).alias("file_id")))
    prev_files = materialize(warc.assemble_warc_files(
        warc.build_warc_records(prev_docs, payload_col="ptext"),
        gzip_records="mixed"))
    cdx_prev = materialize(
        warc.parse_warc(prev_files)
        .filter(F.col("warc_type") == "response")
        .select(F.col("target_uri").alias("url"),
                F.md5(F.col("payload_text")).alias("pdigest"),
                F.col("record_id").alias("prev_id"),
                "file_id", "record_offset"))
    # --- crawl 2: emit revisit where the indexed digest matches ---
    cur = (d.select("doc_id", F.expr(_DOC_URL_SQL).alias("url"), "text",
                    F.md5("text").alias("digest"),
                    (F.col("doc_id") % nshards).alias("file_id"))
           .join(cdx_prev.select("url", "pdigest", "prev_id"),
                 "url", "left"))
    is_rev = F.coalesce(F.col("pdigest") == F.col("digest"),
                        F.lit(False))
    resp_recs = warc.build_warc_records(cur.filter(~is_rev))
    rev_recs = warc.build_warc_revisit_records(
        cur.filter(is_rev), refers_to_id_col="prev_id",
        warc_date="2026-02-01T00:00:00Z")
    cur_files = warc.assemble_warc_files(
        resp_recs.select("doc_id", "file_id", "record")
        .unionByName(rev_recs.select("doc_id", "file_id", "record")),
        gzip_records="mixed")
    # --- cold read-back + resolution ---
    parsed = materialize(warc.parse_warc(cur_files))
    resp_out = (parsed.filter(F.col("warc_type") == "response")
                .select(F.col("target_uri").alias("uri"),
                        F.lit("response").alias("warc_type"),
                        F.md5(F.col("payload_text"))
                         .alias("resolved_digest"),
                        F.octet_length("payload").cast("long")
                         .alias("stored_bytes")))
    rev_rows = (parsed.filter(F.col("warc_type") == "revisit")
                .select(F.col("refers_to_uri").alias("url"),
                        F.regexp_replace("payload_digest", "^md5:", "")
                         .alias("rdigest"),
                        F.octet_length("payload").cast("long")
                         .alias("stored_bytes")))
    # digest pairing THROUGH the index: (uri, digest) -> referred span
    pairs = materialize(rev_rows.join(
        cdx_prev,
        (rev_rows["url"] == cdx_prev["url"])
        & (rev_rows["rdigest"] == cdx_prev["pdigest"]))
        .select(rev_rows["url"].alias("url"), "stored_bytes",
                "file_id", "record_offset"))
    fetched = (warc.read_records_at(
        prev_files, pairs.select("file_id", "record_offset"))
        .filter(F.col("warc_type") == "response")
        .select(F.col("target_uri").alias("url"),
                F.md5(F.col("payload_text")).alias("resolved_digest")))
    rev_out = (pairs.join(fetched, "url")
               .select(F.col("url").alias("uri"),
                       F.lit("revisit").alias("warc_type"),
                       "resolved_digest", "stored_bytes"))
    return resp_out.unionByName(rev_out)


@query(
    "web_mirror_sets",
    oracle=f"""
    WITH RECURSIVE
    mcaps AS (
      SELECT {_DOC_URL_SQL} AS uri, md5(text) AS digest FROM documents
      UNION ALL{_PREV_CAPS_SQL}),
    medges AS (SELECT DISTINCT uri AS src, digest AS dst FROM mcaps),
    mue AS (SELECT src, dst FROM medges
            UNION SELECT dst, src FROM medges),
    mn AS (SELECT DISTINCT src AS node FROM mue),
    mreach(node, lab) AS (
      SELECT node, node FROM mn
      UNION
      SELECT mue.dst, mreach.lab
      FROM mreach JOIN mue ON mue.src = mreach.node),
    mcomp AS (SELECT node, MIN(lab) AS component
              FROM mreach GROUP BY node),
    muris AS (SELECT node, component FROM mcomp
              WHERE node LIKE 'https://%'),
    msets AS (SELECT component, MIN(node) AS canonical_uri,
                     CAST(COUNT(*) AS BIGINT) AS n_uris
              FROM muris GROUP BY component)
    SELECT u.node AS uri, s.canonical_uri, s.n_uris
    FROM muris u JOIN msets s ON s.component = u.component
    """,
)
def web_mirror_sets(spark, sf_dir):
    """S9g (engine ext.): TRANSITIVE mirror-set closure — the step
    after web_cdx_revisit's pairwise verdicts: URLs that served the
    same content at ANY capture, connected transitively through
    shared digests across both crawls, form one mirror set with one
    canonical URL (lexicographic min — CC-Net/Common-Crawl-style
    URL-level dedup picks exactly one member to keep). Pairwise
    digest grouping cannot do this: a URI whose content CHANGED
    between crawls bridges its two digests, so a mirror of the OLD
    content and a mirror of the NEW content belong to the same set
    only through a 3-hop path (mirror—old_digest—uri—new_digest) —
    a connected-components fixpoint, checked exactly by the
    recursive-CTE oracle. Exact-duplicate texts (the planted dedup
    groups) widen sets the same way.

    Shape: the bipartite (uri, digest) edge relation is CAPTURE-INDEX
    sized, never corpus sized (one md5 per capture row). Capture
    graphs are mostly shallow star components, where min-label
    propagation converges in ~6 rounds (1.7x faster than star
    contraction at sf10, 9.4 s vs 16.1 s; star contraction was
    removed once it lost on every caller). The deep-chain risk
    (changed-URI bridge chains growing with crawl count) is guarded
    by max_iters failing LOUD, never by a half-converged answer."""
    from clif_spark.operators import graph as G

    d = io.load_table(spark, sf_dir, "documents")
    cur = d.select(F.expr(_DOC_URL_SQL).alias("uri"),
                   F.md5("text").alias("digest"))
    caps = cur.unionByName(_prev_caps(d))
    comp = G.connected_components(
        caps.select(F.col("uri").alias("src"),
                    F.col("digest").alias("dst")))
    uris = comp.filter(F.col("node").startswith("https://"))
    sets = (uris.groupBy("component")
            .agg(F.min("node").alias("canonical_uri"),
                 F.count(F.lit(1)).cast("long").alias("n_uris")))
    return (uris.join(sets, "component")
            .select(F.col("node").alias("uri"), "canonical_uri",
                    "n_uris"))


@query(
    "web_mirror_sets_incremental",
    oracle=f"""
    WITH RECURSIVE
    icaps AS (
      SELECT {_DOC_URL_SQL} AS uri, md5(text) AS digest FROM documents
      UNION ALL{_PREV_CAPS_SQL}
      UNION ALL
      SELECT u1.uri, md5(d2.text)
      FROM (SELECT doc_id, {_DOC_URL_SQL} AS uri FROM documents
            WHERE doc_id % 6 = 0) u1
      JOIN documents d2 ON d2.doc_id = u1.doc_id + 1),
    iedges AS (SELECT DISTINCT uri AS src, digest AS dst FROM icaps),
    iue AS (SELECT src, dst FROM iedges
            UNION SELECT dst, src FROM iedges),
    inodes AS (SELECT DISTINCT src AS node FROM iue),
    ireach(node, lab) AS (
      SELECT node, node FROM inodes
      UNION
      SELECT iue.dst, ireach.lab
      FROM ireach JOIN iue ON iue.src = ireach.node),
    icomp AS (SELECT node, MIN(lab) AS component
              FROM ireach GROUP BY node),
    iuris AS (SELECT node, component FROM icomp
              WHERE node LIKE 'https://%'),
    isets AS (SELECT component, MIN(node) AS canonical_uri,
                     CAST(COUNT(*) AS BIGINT) AS n_uris
              FROM iuris GROUP BY component)
    SELECT u.node AS uri, s.canonical_uri, s.n_uris
    FROM iuris u JOIN isets s ON s.component = u.component
    """,
)
def web_mirror_sets_incremental(spark, sf_dir):
    """S9g-incremental (engine ext.): mirror-set maintenance WITHOUT
    re-scanning old crawls — the standing component labeling IS the
    compressed state. The star edges (node -> component minimum) that
    a components run leaves behind preserve the partition of every
    previously-seen node EXACTLY (each old component is one star), so
    when a new crawl's capture edges arrive, components over
    (standing star edges UNION delta edges) equal components over ALL
    capture edges ever seen — the classic incremental-CC identity,
    here gated against the full three-crawl recompute (the oracle
    re-derives everything; the engine touches crawls 1-2 only through
    their node-count-sized star relation).

    The delta is the HARD case: crawl 3 captures every 6th URL now
    serving its SUCCESSOR document's payload (a site reorganization —
    content moved between URLs), so the new edge BRIDGES two
    previously-disjoint mirror sets; a maintenance scheme that only
    attaches new nodes to existing sets (instead of re-closing over
    the union) cannot merge them and flips the hash.

    100 TB story: state carried between crawls is one row per
    previously-seen node (the labeling), delta cost is
    O(star + new captures) — crawl N's maintenance never re-reads
    crawls 1..N-1; capture-graph components stay shallow so the
    min-label closure converges in a handful of index-sized rounds."""
    from clif_spark.operators import graph as G

    d = io.load_table(spark, sf_dir, "documents")
    cur = d.select(F.expr(_DOC_URL_SQL).alias("uri"),
                   F.md5("text").alias("digest"))
    caps12 = cur.unionByName(_prev_caps(d))
    # the standing state: components over crawls 1-2, kept as star
    # edges (node -> component min; roots carry no edge — their
    # component is recovered from any member)
    comp12 = G.connected_components(
        caps12.select(F.col("uri").alias("src"),
                      F.col("digest").alias("dst")))
    star = (comp12.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias("src"),
                    F.col("component").alias("dst")))
    # crawl 3 delta: every 6th URL now serves its successor's payload
    moved = (d.filter(F.col("doc_id") % 6 == 0)
             .select((F.col("doc_id") + 1).alias("nid"),
                     F.expr(_DOC_URL_SQL).alias("uri")))
    caps3 = (moved.join(d.select(F.col("doc_id").alias("nid"), "text"),
                        "nid")
             .select(F.col("uri").alias("src"),
                     F.md5("text").alias("dst")))
    merged = G.connected_components(star.unionByName(caps3))
    uris = merged.filter(F.col("node").startswith("https://"))
    sets = (uris.groupBy("component")
            .agg(F.min("node").alias("canonical_uri"),
                 F.count(F.lit(1)).cast("long").alias("n_uris")))
    return (uris.join(sets, "component")
            .select(F.col("node").alias("uri"), "canonical_uri",
                    "n_uris"))


# --- D7d: incremental recrawl plan (sitemap lastmod x standing index) -----


@query(
    "web_recrawl_plan",
    oracle=f"""
    WITH rpsrc AS (SELECT DISTINCT source FROM documents),
    rpmaps AS (
      SELECT source || '.example.com' AS host, {_SITEMAP_SQL} AS xml,
             CAST({_ROBOTS_K_SQL} AS INT) AS k
      FROM rpsrc),
    rpblocks AS (
      SELECT host, k, unnest(
        regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS b
      FROM rpmaps),
    rpentries AS (
      SELECT host, k,
             trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)) AS loc,
             nullif(regexp_extract(b,
               '(?s)<lastmod>(.*?)</lastmod>', 1), '') AS lastmod,
             CAST(CAST(coalesce(nullif(regexp_extract(b,
               '(?s)<priority>(.*?)</priority>', 1), ''), '0.5')
               AS DECIMAL(7,6)) * 1000000 AS BIGINT) AS priority_micros
      FROM rpblocks),
    standing AS (
      -- last crawl's index: even-k hosts had their first two sitemap
      -- entries indexed on 2026-03-01
      SELECT host,
             'https://' || host || '/articles/' || CAST(k AS VARCHAR)
               AS uri, '2026-03-01' AS indexed_at
      FROM rpmaps WHERE k % 2 = 0
      UNION ALL
      SELECT host,
             'https://' || host || '/articles/1' || CAST(k AS VARCHAR),
             '2026-03-01'
      FROM rpmaps WHERE k % 2 = 0)
    SELECT e.host, e.loc, e.lastmod, e.priority_micros,
           CASE
             WHEN s.indexed_at IS NULL THEN 'fetch_new'
             WHEN e.lastmod IS NULL THEN 'revalidate'
             WHEN e.lastmod <= s.indexed_at THEN 'skip'
             ELSE 'refetch'
           END AS verdict
    FROM rpentries e
    LEFT JOIN standing s ON s.uri = e.loc
    """,
)
def web_recrawl_plan(spark, sf_dir):
    """D7d (engine ext.): the incremental RECRAWL PLAN — where the
    sitemap machinery pays off: each seed's ``lastmod`` checks against
    the standing index's indexed-at date and classifies ``skip``
    (lastmod at or before our index date — the fetch the protocol
    exists to save), ``refetch`` (changed since), ``revalidate`` (no
    lastmod — schedule a conditional GET; web_cdx_revisit is the
    digest-side fallback when even that is unavailable), or
    ``fetch_new`` (never indexed). Dates compare as ISO-8601 strings —
    identical lexicographic and chronological order, no timestamp
    parsing crosses the oracle. The planted lastmods split the indexed
    hosts observably: k=0 hosts' first entry (2026-01-15) skips, k=2
    hosts' (2026-03-15) refetches, the lastmod-less second entry
    revalidates where indexed, and everything else is fetch_new.

    100 TB shape: seeds and the index join on URI — frontier-sized,
    the dedup exchange a crawler pays anyway; sitemap parse stays
    host-count sized (the web_sitemap_parse plan)."""
    d = io.load_table(spark, sf_dir, "documents")
    smaps = materialize(_host_bodies(d, f"{_SITEMAP_SQL} AS xml",
                                     f"{_SRC_N} % 4 AS k"))
    blocks = smaps.select(
        "host", "k",
        F.explode(F.regexp_extract_all(
            "xml", F.lit(r"(?s)<url>(.*?)</url>"), F.lit(1))).alias("b"))
    prio = F.coalesce(
        F.nullif(F.regexp_extract(
            "b", r"(?s)<priority>(.*?)</priority>", 1), F.lit("")),
        F.lit("0.5"))
    entries = blocks.select(
        "host",
        F.trim(F.regexp_extract("b", r"(?s)<loc>(.*?)</loc>", 1))
         .alias("loc"),
        F.nullif(F.regexp_extract("b", r"(?s)<lastmod>(.*?)</lastmod>",
                                  1), F.lit("")).alias("lastmod"),
        (prio.cast("decimal(7,6)") * 1000000).cast("long")
         .alias("priority_micros"))
    ks = F.col("k").cast("string")
    standing = (smaps.filter(F.col("k") % 2 == 0).select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/articles/"),
                 ks).alias("uri"),
        F.lit("2026-03-01").alias("indexed_at"))
        .unionByName(smaps.filter(F.col("k") % 2 == 0).select(
            F.concat(F.lit("https://"), F.col("host"),
                     F.lit("/articles/1"), ks).alias("uri"),
            F.lit("2026-03-01").alias("indexed_at"))))
    joined = entries.join(
        standing, entries["loc"] == standing["uri"], "left")
    verdict = (
        F.when(F.col("indexed_at").isNull(), F.lit("fetch_new"))
         .when(F.col("lastmod").isNull(), F.lit("revalidate"))
         .when(F.col("lastmod") <= F.col("indexed_at"), F.lit("skip"))
         .otherwise(F.lit("refetch")))
    return joined.select("host", "loc", "lastmod", "priority_micros",
                         verdict.alias("verdict"))
