"""The planted web inputs are one SQL text each, read by both engines:
the DuckDB oracle splices the string into its SQL and the engine
evaluates the same string through ``F.expr``. This pins that every such
string means the same thing to both parsers."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from test_oracle import SF_DIR

from clif_spark import io
from clif_spark.queries import web

SHARED_FIXTURES = [
    "_DOC_URL_SQL", "_PAGE_HTML_SQL", "_RAW_URL_SQL", "_ROBOTS_K_SQL",
    "_ROBOTS_TXT_SQL", "_WILD_TXT_SQL", "_SITEMAP_SQL", "_SMIDX_SQL",
    "_SMCHILD_SQL", "_SRC_N", "_M_SQL", "_LINK_PAGE_SQL",
    "_LINK_BASE_PATH_SQL", "_ANCHOR_EXTRA_SQL", "_MAIN_PAGE_SQL",
    "_PREV_DIGEST_SQL", "_MIRROR_URI_SQL",
]

# The documents columns plus the per-child columns the sitemap-index
# child body reads (host, ck, cname) — itself dialect-neutral SQL.
_CONTEXT = [
    "doc_id", "source", "text",
    "source || '.example.com' AS host",
    f"{web._ROBOTS_K_SQL} AS ck",
    "CASE doc_id % 3 WHEN 0 THEN 'articles' WHEN 1 THEN 'news' "
    "ELSE 'extra' END AS cname",
]


@pytest.mark.parametrize("name", SHARED_FIXTURES)
def test_shared_fixture_sql_is_dialect_neutral(spark, name):
    sql = getattr(web, name)
    # Spark's parser unescapes '\d' to 'd' where DuckDB keeps it
    assert "\\" not in sql
    docs = io.load_table(spark, SF_DIR, "documents").selectExpr(*_CONTEXT)
    got = sorted(tuple(r) for r in
                 docs.select("doc_id", F.expr(sql).alias("v")).collect())
    con = duckdb.connect()
    want = sorted(con.execute(
        f"SELECT doc_id, {sql} AS v FROM (SELECT {', '.join(_CONTEXT)} "
        f"FROM read_parquet('{SF_DIR}/documents.parquet'))").fetchall())
    assert got and got == want
