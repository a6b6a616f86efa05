"""Revisit-emission storage measurement (VERDICT r13 item 6 'done'
criterion): at a given SF, build crawl 2's WARC shards twice — once
with identical-payload-digest revisit records for digest-unchanged
refetches, once storing every refetch as a full response — and report
total stored bytes per arm plus the revisit-class row share. The
fixture is web_warc_revisit_roundtrip's (3/4 of URIs previously
crawled, every fifth changed since -> 60% of refetches are
digest-unchanged).

Usage: python scripts/revisit_storage_ab.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from clif_spark import io, warc
from clif_spark.queries.web import _DOC_URL_SQL, _shard_count
from clif_spark.session import build_session


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/clif_sf10"
    spark = build_session(app_name="revisit-storage-ab")
    spark.sparkContext.setLogLevel("ERROR")
    d = io.load_table(spark, sf_dir, "documents")
    nshards = _shard_count(d)
    prev = (d.filter(F.col("doc_id") % 4 != 3)
            .select(F.expr(_DOC_URL_SQL).alias("url"),
                    F.when(F.col("doc_id") % 5 == 0,
                           F.md5(F.concat("text", F.lit("-v0"))))
                     .otherwise(F.md5("text")).alias("pdigest")))
    cur = (d.select("doc_id", F.expr(_DOC_URL_SQL).alias("url"), "text",
                    F.md5("text").alias("digest"),
                    (F.col("doc_id") % nshards).alias("file_id"))
           .join(prev, "url", "left"))
    is_rev = F.coalesce(F.col("pdigest") == F.col("digest"),
                        F.lit(False))

    def shard_bytes(records):
        files = warc.assemble_warc_files(records, gzip_records="mixed")
        r = files.agg(
            F.sum(F.octet_length("content")).alias("b")).first()
        return int(r["b"])

    with_rev = (
        warc.build_warc_records(cur.filter(~is_rev))
        .select("doc_id", "file_id", "record")
        .unionByName(
            warc.build_warc_revisit_records(
                cur.filter(is_rev), warc_date="2026-02-01T00:00:00Z")
            .select("doc_id", "file_id", "record")))
    all_resp = warc.build_warc_records(cur).select(
        "doc_id", "file_id", "record")
    n = cur.count()
    n_rev = cur.filter(is_rev).count()
    b_rev = shard_bytes(with_rev)
    b_all = shard_bytes(all_resp)
    print(json.dumps({
        "sf_dir": sf_dir, "captures": n, "revisit_rows": n_rev,
        "bytes_with_revisit": b_rev, "bytes_all_response": b_all,
        "saving_pct": round(100 * (1 - b_rev / b_all), 2)}),
        flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
