"""CDX read-leg A/B (VERDICT r12 item 2): decompressed-offset random
access (read_records_at — stream-decompresses the shard prefix up to
the offset) vs compressed-member-span access (read_records_at_members
— slices exactly one gzip member). The shards and the lookup set are
built ONCE and checkpointed, so the timed legs are the READS alone.

The lookup set targets the LAST captures of two gzip shards — the
worst case for the prefix form (it must decompress nearly the whole
shard) and the invariant case for the member form (one member inflate
wherever the record sits).

Also records the star-vs-label component round counts (VERDICT item
5) since both measurements want the same sf dir.

Usage: python scripts/cdx_read_ab.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from clif_spark import io, warc
from clif_spark.session import build_session


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/clif_sf10"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = build_session(app_name="cdx-read-ab")
    spark.sparkContext.setLogLevel("ERROR")

    from clif_spark.queries import web as _web

    d = io.load_table(spark, sf_dir, "documents")
    # optional shard-count override: the prefix-vs-member gap scales
    # with SHARD size (Common Crawl shards are ~1 GB; the gated
    # harness's ~8k-doc shards are a few MB), so the A/B wants fewer,
    # bigger shards to show the production-shaped cost
    nshards = (int(sys.argv[3]) if len(sys.argv) > 3
               else _web._shard_count(d))
    docs = d.select(
        "doc_id", "text", F.expr(_web._DOC_URL_SQL).alias("url"),
        (F.col("doc_id") % nshards).alias("file_id"))
    # ALL-GZIP layout: the prefix-decompression cost is the comparison
    files = warc.assemble_warc_files(
        warc.build_warc_records(docs), gzip_records=True) \
        .localCheckpoint(eager=True)
    nbytes = files.agg(F.sum(F.octet_length("content"))).first()[0]
    idx = _web._cdx_rows(warc.parse_warc_members(files), members=True) \
        .localCheckpoint(eager=True)
    # last 3 captures per shard, two shards: the prefix form's worst case
    from pyspark.sql import Window
    w = Window.partitionBy("file_id").orderBy(F.col("record_offset").desc())
    picks = (idx.filter(F.col("file_id").isin(1, 3))
             .withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= 3)
             .select("file_id", "record_offset",
                     "member_offset", "member_length")
             .localCheckpoint(eager=True))
    n_picks = picks.count()
    print(f"shards={nshards} gz_bytes={nbytes} picks={n_picks} (tail "
          f"captures of 2 shards)", flush=True)

    legs = {
        "offset_prefix": lambda: warc.read_records_at(
            files, picks.select("file_id", "record_offset")),
        "member_range": lambda: warc.read_records_at_members(
            files, picks.select("file_id", "member_offset",
                                "member_length")),
    }
    for name, fn in legs.items():  # warm
        assert fn().count() == n_picks
    best = {name: float("inf") for name in legs}
    for _ in range(reps):
        for name, fn in legs.items():  # interleaved, same-phase
            t0 = time.perf_counter()
            fn().collect()
            best[name] = min(best[name], time.perf_counter() - t0)
    for name, v in best.items():
        print(f"{name}: {v:.3f}s", flush=True)

    # --- component round counts: label propagation vs star ---
    from clif_spark.operators import graph as G
    edges = _web._host_component_edges(spark, sf_dir) \
        .localCheckpoint(eager=True)
    t0 = time.perf_counter()
    _, r_label = G.connected_components(edges, return_rounds=True)
    t_label = time.perf_counter() - t0
    t0 = time.perf_counter()
    _, r_star = G.connected_components_star(edges, return_rounds=True)
    t_star = time.perf_counter() - t0
    print(f"components label: {r_label} rounds {t_label:.2f}s | "
          f"star: {r_star} rounds {t_star:.2f}s (host ring, diam ~3)",
          flush=True)
    chain = spark.range(120).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    t0 = time.perf_counter()
    _, r_star_c = G.connected_components_star(chain, return_rounds=True)
    t_star_c = time.perf_counter() - t0
    print(f"star on 120-chain (diam 119, label DNFs the 50 budget): "
          f"{r_star_c} rounds {t_star_c:.2f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
