"""Deduplication operators for the LLM-data-pipeline surface (north star:
BASELINE.json). Exact, MinHash+LSH banded near-dup, n-gram Jaccard verify,
and SimHash — all expressed as DataFrame plans (no UDFs), so each scales as
shuffle-bounded joins/aggregations rather than driver-side loops.

Design notes for 100 TB:
- Exact dedup is a single hash-aggregate on a fingerprint column (map-side
  combine: the shuffle carries one row per distinct fingerprint).
- MinHash signatures hash each shingle ONCE (``md5('m:' || shingle)``) and
  slice the digest into bands×rows_per_band independent functions — md5 is
  bit-identical across engines (oracle-checkable) and uniformly distributed;
  at production scale swap in xxhash64 for speed, semantics unchanged.
- LSH banding turns all-pairs O(n²) into groupBy(band_key) + within-bucket
  pairing; candidate verification (exact Jaccard) touches only candidates.
- Skew guard: buckets larger than ``max_bucket`` are dropped (a bucket of
  100k identical boilerplate docs would otherwise emit 5e9 pairs); dropped
  mass is exactly the boilerplate a real pipeline routes to exact-dedup first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from clif_spark.functions.text import fingerprint, word_ngrams
from clif_spark.io import ensure_parallelism
from clif_spark.operators.core import materialize

#: (bands, rows-per-band) for MinHash LSH. P(candidate) = 1-(1-J^r)^b:
#: J=0.8 -> 0.98, J=0.2 -> 0.15 with b=4, r=2.
DEFAULT_BANDS = 4
DEFAULT_ROWS_PER_BAND = 2


def _minhash_slice_width(n_funcs: int) -> int:
    """Hex chars per minhash function sliced from one 32-hex md5 digest.
    Explicit raise (not assert): the contract must hold under ``python -O``
    too — past the digest ``substring`` returns '' and every band key
    degenerates to the same bucket."""
    if n_funcs <= 4:
        return 8
    if n_funcs <= 8:
        return 4
    raise ValueError(
        f"bands*rows_per_band={n_funcs} exceeds the 8 slices one md5 digest"
        " provides; reduce bands/rows_per_band or add salted digests")


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint: one row per
    duplicated fingerprint with the keeper (min id) and the duplicate count.
    """
    fp = docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    return (fp.groupBy("fp")
              .agg(F.min(id_col).alias("keeper_id"),
                   F.count(F.lit(1)).alias("n_docs"))
              .filter(F.col("n_docs") > 1))


def chunk_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", chunk_tokens: int = 10) -> DataFrame:
    """Sub-document exact dedup at chunk grain — the paragraph-level
    dedup of C4/Dolma ("remove any paragraph seen before, keep the first
    occurrence"), generalized to fixed ``chunk_tokens``-token chunks so it
    also covers single-line corpora with no paragraph breaks.

    Shape: tokenize (narrow) -> posexplode chunks -> ONE global window on
    the chunk value marks the first occurrence by (id, chunk_idx) order
    (the exchange partitions by chunk text: boilerplate concentrates but
    per-group state is one counter, not a collected set) -> re-aggregate
    per document, reassembling the surviving text in chunk order.

    Output: (id, n_chunks, n_kept, kept_text) — n_chunks > n_kept flags
    documents that lost boilerplate; kept_text == '' means the whole
    document was seen before (the exact-dedup degenerate case).
    """
    k = chunk_tokens
    chunks = F.expr(
        f"transform(sequence(0, cast(ceil(size(split({text_col}, ' '))"
        f" / {k}.0) as int) - 1),"
        f" i -> array_join(slice(split({text_col}, ' '), i * {k} + 1, {k}),"
        f" ' '))")
    # NULL-text guard: size(split(NULL)) is -1, so the sequence would run
    # DESCENDING [0, -1] and emit two bogus NULL-chunk rows; the oracle's
    # range(NULL) emits none. Dropping NULL docs mirrors the oracle.
    ch = (docs.filter(F.col(text_col).isNotNull())
              .select(id_col, F.posexplode(chunks).alias("idx", "chunk")))
    w = Window.partitionBy("chunk").orderBy(id_col, "idx")
    marked = ch.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("long"))
    kept_structs = F.array_sort(
        F.collect_list(F.when(F.col("keep") == 1,
                              F.struct("idx", "chunk"))))
    return (marked.groupBy(id_col)
                  .agg(F.count("*").alias("n_chunks"),
                       F.sum("keep").alias("n_kept"),
                       F.array_join(
                           F.transform(kept_structs, lambda s: s["chunk"]),
                           " ").alias("kept_text")))


def doc_shingles(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle)."""
    return (docs.select(F.col(id_col).alias("doc"),
                        F.explode(word_ngrams(F.lower(F.col(text_col)), n))
                         .alias("shingle"))
                .distinct())


def minhash_band_keys(shingles: DataFrame, bands: int = DEFAULT_BANDS,
                      rows_per_band: int = DEFAULT_ROWS_PER_BAND) -> DataFrame:
    """Per-document LSH band keys: (doc, band, band_key) — the exploded
    (doc, shingle) formulation for unbounded-length documents.

    band_key concatenates ``rows_per_band`` independent minhashes, each a
    disjoint hex slice of ONE ``md5('m:' || shingle)`` digest (same
    single-hash budget and slicing as ``minhash_near_dups``) —
    deterministic and engine-portable.
    """
    w = _minhash_slice_width(bands * rows_per_band)
    h = F.md5(F.concat(F.lit("m:"), F.col("shingle")))
    aggs = []
    for b in range(bands):
        parts = [
            F.min(F.substring(h, w * (b * rows_per_band + r) + 1, w))
            for r in range(rows_per_band)
        ]
        aggs.append(F.concat_ws("|", *parts).alias(f"band_{b}"))
    sigs = shingles.groupBy("doc").agg(*aggs)
    return sigs.unpivot(["doc"], [f"band_{b}" for b in range(bands)],
                        "band", "band_key")


def lsh_candidate_pairs(band_keys: DataFrame, max_bucket: int = 200) -> DataFrame:
    """Candidate near-dup pairs (a < b) from band-key buckets.

    Self-join within (band, band_key) buckets; the a<b predicate halves the
    pairs and removes self-matches; distinct collapses pairs found by
    multiple bands. ``max_bucket`` bounds quadratic blowup on degenerate
    buckets (skew guard).
    """
    return pairs_from_buckets(band_keys, ["band", "band_key"], "doc",
                              max_bucket=max_bucket)


def pairs_from_buckets(df: DataFrame, group_cols: list[str], id_col: str,
                       max_bucket: int = 200, a_col: str = "a",
                       b_col: str = "b") -> DataFrame:
    """Distinct (a < b) id pairs within each bucket group — the shared
    candidate-generation core of MinHash text dedup and LSH embedding dedup.

    One groupBy shuffle + in-array pair expansion replaces the window-count +
    bucket self-join formulation (two exchanges on the same key). Per-group
    state is bounded by ``max_bucket`` (buckets larger than it are dropped —
    the skew guard), so the collect_list is safe at any corpus size.

    CONTRACT WARNING: the drop makes this expansion suitable ONLY for
    approximate-by-contract candidate generation (MinHash/SimHash/LSH
    banding, where a lost bucket is a recall trade the operator already
    documents). An operator whose contract is EXACTNESS must use an
    uncapped equi self-join instead — on real corpora the biggest buckets
    are exactly where the true pairs live, and the cap loses them
    silently (the r7 prefix-filter bug: 98.6% recall loss at 5k docs
    while the smaller gate scale stayed green — BASELINE.md round 7).
    """
    buckets = (df.groupBy(*group_cols)
                 .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
                 .filter(F.size("ids").between(2, max_bucket)))
    pairs = F.flatten(F.transform(
        F.col("ids"),
        lambda a, i: F.transform(
            F.slice(F.col("ids"), i + F.lit(2),
                    F.greatest(F.size(F.col("ids")) - i - 1, F.lit(0))),
            lambda b: F.struct(a.alias(a_col), b.alias(b_col)))))
    return (buckets.select(F.explode(pairs).alias("p"))
                   .select(f"p.{a_col}", f"p.{b_col}").distinct())


def jaccard_verify(pairs: DataFrame, shingles: DataFrame,
                   threshold: float = 0.0) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| / |A∪B|.

    Intersection via an equi-join on shingle restricted to candidate docs;
    union from per-doc set sizes. Only candidate pairs are scored — the
    all-pairs product never materializes.
    """
    sizes = shingles.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    sa = shingles.select(F.col("doc").alias("a"), "shingle")
    sb = shingles.select(F.col("doc").alias("b"), "shingle")
    inter = (pairs.join(sa, "a").join(sb, ["b", "shingle"])
                  .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter")))
    scored = (inter
              .join(sizes.select(F.col("doc").alias("a"), F.col("sz").alias("sz_a")), "a")
              .join(sizes.select(F.col("doc").alias("b"), F.col("sz").alias("sz_b")), "b")
              .select("a", "b",
                      F.round(F.col("inter")
                              / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                              4).alias("jaccard")))
    return scored.filter(F.col("jaccard") >= threshold)


def minhash_near_dups(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.7,
                      bands: int = DEFAULT_BANDS,
                      rows_per_band: int = DEFAULT_ROWS_PER_BAND,
                      max_bucket: int = 200) -> DataFrame:
    """End-to-end near-dup pipeline: shingle -> minhash bands -> LSH buckets
    -> exact-Jaccard verify -> pairs over threshold.

    Shuffle geometry (the 100 TB argument): per-document shingle sets stay
    an ``array<string>`` column, so band signatures are a *narrow* map —
    ``array_min(transform(shingles, slice(md5(s))))`` per band-row — instead
    of an explode+distinct shuffle of the full (doc, shingle) relation.
    Verification carries the shingle arrays INTO the bucket groupBy: pair
    expansion emits (a, b, sh_a, sh_b) directly, and exact Jaccard + the
    threshold filter run before the final narrow distinct. One scan of the
    corpus, two shuffles total, zero re-joins. The bucket shuffle carries
    ``bands`` copies of each doc's shingle array — the right trade for
    pre-chunked LLM-pipeline docs (bounded row width), and per-bucket
    memory stays bounded by ``max_bucket`` × chunk size.
    """
    sh = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(word_ngrams(F.lower(F.col(text_col)), n)).alias("sh"))
    # Hash cost is the pipeline's CPU budget at corpus scale, so each shingle
    # is hashed exactly ONCE (md5 -> 128 bits) and the bands×rows_per_band
    # minhash functions are disjoint hex slices of that one digest — 8-char
    # (32-bit) slices up to 4 functions, 4-char (16-bit) slices up to 8.
    # A 16-bit minhash is safe here: for shingle-set sizes m,n the spurious
    # min-collision rate is ~mn/(65536(m+n)) ≈ 0.0015 at m=n=200 — noise an
    # order below any Jaccard threshold, and false candidates are removed by
    # the exact verify anyway. md5 keeps the signature bit-identical in
    # DuckDB (oracle); a production deployment would swap xxhash64 here,
    # semantics unchanged.
    n_funcs = bands * rows_per_band
    slice_w = _minhash_slice_width(n_funcs)
    sh = sh.withColumn(
        "hs", F.transform("sh", lambda s: F.md5(F.concat(F.lit("m:"), s))))
    def _slice_min(func_idx: int):
        # NB: the inner lambda must be single-parameter — F.transform treats
        # a two-parameter lambda as (element, index).
        return F.array_min(F.transform(
            F.col("hs"),
            lambda h: F.substring(h, slice_w * func_idx + 1, slice_w)))

    # Band index folded into the key: one explode + one groupBy, with
    # the shingle arrays riding along in the bucket's collect_list.
    # Keys use NULL-PROPAGATING concat (not concat_ws): shingle-less
    # docs (array_min over [] is NULL) produce NULL keys, filtered
    # AFTER the explode — a predicate on generator output cannot be
    # pushed below the shingle projection, where the previous
    # size(sh) > 0 pre-filter re-evaluated the whole shingle
    # expression per row (measured -30% end-to-end at sf1).
    bkeys = F.array(*[
        F.concat(F.lit(str(b)), *sum(
            ([F.lit("|"), _slice_min(b * rows_per_band + r)]
             for r in range(rows_per_band)), []))
        for b in range(bands)])
    keyed = (sh.select("doc", "sh", F.explode(bkeys).alias("bk"))
               .filter(F.col("bk").isNotNull()))
    buckets = (keyed.groupBy("bk")
               .agg(F.array_sort(F.collect_list(F.struct("doc", "sh")))
                     .alias("ds"))
               .filter(F.size("ds").between(2, max_bucket)))
    pairs = F.flatten(F.transform(
        F.col("ds"),
        lambda a, i: F.transform(
            F.slice(F.col("ds"), i + F.lit(2),
                    F.greatest(F.size(F.col("ds")) - i - 1, F.lit(0))),
            lambda b: F.struct(a["doc"].alias("a"), b["doc"].alias("b"),
                               a["sh"].alias("sh_a"),
                               b["sh"].alias("sh_b")))))
    ex = (buckets.select(F.explode(pairs).alias("p"))
                 .select("p.a", "p.b", "p.sh_a", "p.sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # Jaccard + threshold BEFORE the dedup shuffle: multi-band dupes
    # score identically, so distinct on the narrow scored rows is exact.
    return (ex.select("a", "b",
                      F.round(inter / (F.size("sh_a") + F.size("sh_b")
                                       - inter), 4).alias("jaccard"))
              .filter(F.col("jaccard") >= threshold)
              .distinct())


#: SimHash geometry: 64 bits = 4 chunks × 16 bits = 16 md5 hex chars × 4
#: nibble bits. Chunked output keeps every value inside signed 16-bit range
#: (engine-portable: no unsigned-64 overflow in either Spark or DuckDB) and
#: the chunks double as the LSH bands for Hamming pair search (pigeonhole:
#: Hamming <= 3 over 64 bits guarantees at least one of 4 chunks is equal).
SIMHASH_CHUNKS = 4
_HEX_PER_CHUNK = 4


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from whitespace tokens, as 4×16-bit
    chunks (c0..c3, c0 = most-significant) plus the concatenated hex form.

    Token hash = first 16 hex chars of ``md5(token)`` — bit-identical in
    DuckDB (oracle-checkable; swap xxhash64 at production scale, semantics
    unchanged). Each of the 64 bits votes ±1 weighted by token frequency;
    the sign of each bit-sum forms the signature. Pure aggregate
    formulation: explode tokens, project 16 nibble values per token, one
    groupBy with 64 bit-sum expressions folded into the chunk ints.
    Near-dup = small Hamming distance; ``simhash_pairs`` searches via
    banding on the chunks (same LSH shape as MinHash)."""
    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"))
    h = toks.withColumn("h", F.md5("tok"))
    # nibble value of hex char j (0..15): conv is codegen-native; the
    # oracle mirrors it with strpos('0123456789abcdef', c) - 1.
    nibbles = h.select("doc", *[
        F.conv(F.substring("h", j + 1, 1), 16, 10).cast("int").alias(f"v{j}")
        for j in range(16)])
    aggs = [F.count(F.lit(1)).alias("n")]
    for j in range(16):
        for b in range(4):  # b = bit index within the nibble, LSB first
            aggs.append(F.sum(F.shiftright(F.col(f"v{j}"), b)
                               .bitwiseAND(F.lit(1))).alias(f"s{j}_{b}"))
    votes = nibbles.groupBy("doc").agg(*aggs)
    chunk_cols = []
    for m in range(SIMHASH_CHUNKS):
        chunk = F.lit(0).cast("long")
        for jj in range(_HEX_PER_CHUNK):   # jj-th hex char inside chunk m
            j = m * _HEX_PER_CHUNK + jj
            for b in range(4):
                pos = (_HEX_PER_CHUNK - 1 - jj) * 4 + b
                # majority vote: bit set iff ones outnumber zeros
                chunk = chunk + F.when(
                    F.col(f"s{j}_{b}") * 2 > F.col("n"),
                    F.lit(1 << pos).cast("long")).otherwise(F.lit(0).cast("long"))
        chunk_cols.append(chunk.alias(f"c{m}"))
    out = votes.select("doc", *chunk_cols)
    return out.withColumn(
        "simhash_hex",
        F.format_string("%04x" * SIMHASH_CHUNKS,
                        *[F.col(f"c{m}") for m in range(SIMHASH_CHUNKS)]))


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 10,
                  max_bucket: int = 200) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded on the 16-bit
    chunks (multi-probe LSH promised by ``simhash64``): candidates share at
    least one exact chunk (guaranteed complete for Hamming <= 3 by
    pigeonhole; pairs further apart surface only if some chunk still
    matches), verified with ``bit_count(a XOR b)`` summed over chunks.

    Carry-style single scan (the shape of ``minhash_near_dups``): chunk
    values ride into the band groupBy, pair expansion emits both signatures,
    Hamming + threshold filter run before the final narrow distinct.
    ``max_bucket`` is the usual skew guard. Output: (a, b, hamming).
    """
    sig = simhash64(docs, id_col, text_col)
    return hamming_pairs_from_chunks(sig, max_hamming=max_hamming,
                                     max_bucket=max_bucket)


def hamming_pairs_from_chunks(sig: DataFrame, id_col: str = "doc",
                              max_hamming: int = 10,
                              max_bucket: int = 200) -> DataFrame:
    """Hamming near-dup pairs over ANY 64-bit signature delivered as
    4×16-bit chunks (``c0..c3``) — the banding + carry-verify leg of
    ``simhash_pairs``, factored out so every 64-bit signature family
    (text SimHash, image dHash) shares one pairing implementation:
    candidates share at least one exact chunk (complete for
    Hamming <= 3 by pigeonhole), verified with bit_count(XOR) summed
    over chunks, ``max_bucket`` skew guard, never all-pairs. Output:
    (a, b, hamming) with a < b under the id column's ordering."""
    chunks = [f"c{m}" for m in range(SIMHASH_CHUNKS)]
    doc = F.col(id_col).alias("doc")
    keyed = sig.select(
        doc, *chunks,
        F.explode(F.array(*[
            F.struct(F.lit(m).alias("band"), F.col(f"c{m}").alias("val"))
            for m in range(SIMHASH_CHUNKS)])).alias("bk")
    ).select("doc", *chunks, "bk.band", "bk.val")
    buckets = (keyed.groupBy("band", "val")
               .agg(F.array_sort(
                   F.collect_list(F.struct("doc", *chunks))).alias("ds"))
               .filter(F.size("ds").between(2, max_bucket)))
    pairs = F.flatten(F.transform(
        F.col("ds"),
        lambda a, i: F.transform(
            F.slice(F.col("ds"), i + F.lit(2),
                    F.greatest(F.size(F.col("ds")) - i - 1, F.lit(0))),
            lambda b: F.struct(
                a["doc"].alias("a"), b["doc"].alias("b"),
                *[a[c].alias(f"{c}a") for c in chunks],
                *[b[c].alias(f"{c}b") for c in chunks]))))
    ex = (buckets.select(F.explode(pairs).alias("p")).select("p.*"))
    hamming = sum(
        (F.bit_count(F.col(f"{c}a").bitwiseXOR(F.col(f"{c}b")))
         for c in chunks),
        F.lit(0).cast("long")).cast("long")
    return (ex.select("a", "b", hamming.alias("hamming"))
              .filter(F.col("hamming") <= max_hamming)
              .distinct())


def chunk_sig_store_admit(sigs: DataFrame, root: str, version: int,
                          id_col: str = "doc",
                          lineage: str = "chunk-sigs") -> str:
    """Fold 4×16-bit chunk signatures (``c0..c3`` — SimHash or image
    dHash, any producer of the shared layout) into a persisted
    signature store in the CDC snapshot format — the chunk-signature
    twin of ``signature_store_admit`` (MinHash): keep-latest upsert
    keyed on the doc id, idempotent under redelivery, one
    O(delivery)-row fold + copy-on-write version per admission.
    Subsequent screens see these signatures — the corpus itself is
    HASHED ONCE EVER; only signatures persist."""
    from clif_spark.streaming import upsert_cdc_snapshot

    chunks = [f"c{m}" for m in range(SIMHASH_CHUNKS)]
    rows = sigs.select(
        F.col(id_col).alias("doc"), *chunks,
        F.lit(version).cast("long").alias("__v"),
        F.lit(False).alias("is_delete"))
    return upsert_cdc_snapshot(rows, root, keys=["doc"],
                               order=["__v", "doc"], lineage=lineage)


def chunk_sig_store_delete(spark, doc_ids: DataFrame, root: str,
                           version: int, id_col: str = "doc",
                           lineage: str = "chunk-sigs") -> str:
    """Takedown for the chunk-signature store (the image twin of
    ``signature_store_delete``): tombstone signatures OUT of the
    persisted table — keep-latest makes the tombstone beat the
    admitted row, read-time filtering removes the signature from
    every subsequent screen, and ``compact_cdc_snapshot`` physically
    drops it. O(|doc_ids|) + one copy-on-write version; the removed
    image itself was never stored, so the signature tombstone IS the
    complete forget.

    ``spark`` is unused — kept for signature symmetry with
    ``chunk_sig_store_screen`` so the store lifecycle's read-side
    verbs share one calling convention (ADVICE r17)."""
    from clif_spark.streaming import upsert_cdc_snapshot

    rows = doc_ids.select(
        F.col(id_col).alias("doc"),
        *[F.lit(None).cast("long").alias(f"c{m}")
          for m in range(SIMHASH_CHUNKS)],
        F.lit(version).cast("long").alias("__v"),
        F.lit(True).alias("is_delete"))
    return upsert_cdc_snapshot(rows, root, keys=["doc"],
                               order=["__v", "doc"], lineage=lineage)


def chunk_sig_store_screen(spark, sigs: DataFrame, root: str,
                           id_col: str = "doc",
                           max_hamming: int = 4) -> DataFrame:
    """Screen a delivery of chunk signatures against the persisted
    store: band on the four 16-bit chunks exactly as
    ``hamming_pairs_from_chunks`` (candidates share one exact chunk —
    complete for Hamming <= 3 by pigeonhole), verify with
    bit_count(XOR) over the full signature. Output: (old_id, new_id,
    hamming) for every stored near-match of a delivered signature.

    Plan shape: the store is read ONCE (signature rows, never the
    original payloads), exploded ×4 into band keys; the delivery side
    is broadcast (deliveries are small against a standing corpus), so
    the screen is one store-sized scan with no shuffle — at 100 TB the
    signature relation is ~1e-4 of the corpus bytes and the screen
    never touches an image."""
    from clif_spark.streaming import read_cdc_snapshot

    chunks = [f"c{m}" for m in range(SIMHASH_CHUNKS)]

    def banded(df, idc: str, tag: str):
        keyed = df.select(
            F.col(idc).alias(tag),
            *[F.col(c).alias(f"{c}{tag[0]}") for c in chunks],
            F.explode(F.array(*[
                F.struct(F.lit(m).alias("band"),
                         F.col(f"c{m}").alias("val"))
                for m in range(SIMHASH_CHUNKS)])).alias("bk"))
        return keyed.select(tag, *[f"{c}{tag[0]}" for c in chunks],
                            "bk.band", "bk.val")

    store = banded(read_cdc_snapshot(spark, root), "doc", "old_id")
    delivery = banded(sigs, id_col, "new_id")
    joined = store.join(F.broadcast(delivery), ["band", "val"])
    hamming = sum(
        (F.bit_count(F.col(f"{c}o").bitwiseXOR(F.col(f"{c}n")))
         for c in chunks),
        F.lit(0).cast("long")).cast("long")
    return (joined.select("old_id", "new_id",
                          hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def doc_tokens(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Distinct word unigrams per document: (doc, tok). Whitespace-split
    of the trimmed lowered text — exactly the regexp_split_to_array
    convention every SQL oracle in this repo mirrors."""
    return (docs.select(
                F.col(id_col).alias("doc"),
                F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                                  r"\s+")).alias("tok"))
                .filter(F.col("tok") != "")
                .distinct())


def prefix_filter_pairs(docs: DataFrame, threshold: float = 0.6,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin/AllPairs family): all document pairs whose token-set Jaccard
    >= ``threshold``, with NO false negatives — the candidate-generation
    counterpoint to MinHash banding, which trades recall for fewer
    candidates. The prefix-filter principle: order every document's
    tokens by ascending global document frequency (rarest first, token
    as tiebreak); if J(A, B) >= t then A and B must share at least one
    token among each one's first |T| - ceil(t*|T|) + 1 tokens — so
    bucketing on PREFIX tokens only (the rare ones, whose buckets are
    small by construction) generates a complete candidate set without
    the all-pairs product.

    Plan shape, scale-first: one groupBy(token) for global frequencies,
    one shuffle join to attach them, a per-document window (entity-
    bounded: state is one doc's token list) to rank + cut the prefix,
    then an equi self-JOIN on the prefix token for candidates and an
    exact per-pair token-array verify — every stage keyed, no driver
    traffic, no all-pairs anywhere.

    Candidate generation is a JOIN, deliberately NOT the capped
    pairs_from_buckets expansion the approximate dedups share: dropping
    an oversized bucket there trades recall for bounded state, which is
    fine for LSH (approximate by contract) but would silently break THIS
    operator's exactness — on a template-heavy corpus even a document's
    rarest token can be shared by thousands of near-copies, and those
    buckets are precisely where the true pairs live (measured: the
    capped form lost 188k of 191k true pairs at 5k docs, BASELINE.md
    round 7). The join form is exact at any bucket size; skew within a
    hot prefix token is ordinary join-key skew — AQE skew-split
    territory, plan-visible, never a silent answer change.
    """
    # The token relation feeds FOUR distinct subplan occurrences (the
    # frequency pass, the ranking join, and both sides of the verify
    # arrays); Catalyst performs no common-subexpression elimination
    # across them, so without materialization the tokenize+distinct
    # recomputes per occurrence — measured 36 s -> 13 s at 5k docs just
    # from this (BASELINE.md round 7). core.materialize is the repo's
    # sanctioned reuse tool for data-sized intermediates in multi-pass
    # operators (same discipline as operators.graph / kmeans): one
    # materialization, N reads, lineage truncated.
    toks = materialize(doc_tokens(docs, id_col, text_col))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc")
    ranked = (toks.join(freq, "tok")
                  .withColumn("rnk", F.row_number().over(
                      w_doc.orderBy(F.col("df").asc(), F.col("tok").asc())))
                  .withColumn("sz", F.count(F.lit(1)).over(w_doc)))
    prefix = materialize(  # read twice (pa/pb join sides)
        ranked.filter(F.col("rnk") <= F.col("sz")
                      - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1)
        .select("tok", "doc", "sz"))
    # LENGTH filter at the candidate join (PPJoin's companion prune):
    # J >= t forces max(|A|,|B|) <= min(|A|,|B|)/t, so wildly different
    # sizes can never qualify — applied with a +-1 slack so float
    # division can only keep a borderline pair, never lose one.
    # Measured: cuts the template corpus's candidate set ~6x before the
    # expensive stage (BASELINE.md round 7).
    t = float(threshold)
    pa = prefix.select(F.col("tok"), F.col("doc").alias("a"),
                       F.col("sz").alias("sz_a"))
    pb = prefix.select(F.col("tok"), F.col("doc").alias("b"),
                       F.col("sz").alias("sz_b"))
    cands = (pa.join(pb, "tok")
             .filter((F.col("a") < F.col("b"))
                     & (F.col("sz_b") >= F.ceil(F.lit(t) * F.col("sz_a"))
                        - 1)
                     & (F.col("sz_b") <= F.floor(F.col("sz_a") / F.lit(t))
                        + 1))
             .select("a", "b").distinct())
    # Verify via per-doc sorted token ARRAYS joined to the pairs and an
    # in-row array_intersect — candidate-count × small-array narrow work
    # instead of jaccard_verify's candidate × doc-length token-level
    # shuffle (measured 225M-row exchange on the template corpus; this
    # shape replaces it with two joins against a docs-sized relation that
    # Spark's statistics gate will broadcast whenever it fits — exactly
    # the asymmetry a dedup join has at corpus scale, pairs >> docs).
    arrs = (toks.groupBy("doc")
                .agg(F.array_sort(F.collect_list("tok")).alias("ts"),
                     F.count(F.lit(1)).alias("sz")))
    scored = (cands
              .join(arrs.select(F.col("doc").alias("a"),
                                F.col("ts").alias("ts_a"),
                                F.col("sz").alias("sz_a")), "a")
              .join(arrs.select(F.col("doc").alias("b"),
                                F.col("ts").alias("ts_b"),
                                F.col("sz").alias("sz_b")), "b")
              .select("a", "b",
                      F.size(F.array_intersect("ts_a", "ts_b"))
                       .alias("inter"), "sz_a", "sz_b")
              .select("a", "b",
                      F.round(F.col("inter")
                              / (F.col("sz_a") + F.col("sz_b")
                                 - F.col("inter")), 4).alias("jaccard")))
    return scored.filter(F.col("jaccard") >= threshold)


def incremental_near_dups(corpus: DataFrame, batch: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          threshold: float = 0.5,
                          max_bucket: int = 200) -> DataFrame:
    """Ingestion-time near-dup screening: which documents of an incoming
    BATCH duplicate the EXISTING corpus — the production shape of
    MinHash dedup (a pipeline rarely re-deduplicates the whole corpus;
    it screens each new crawl/delivery against what it already has).
    Same banded signatures, bucket cap and exact-Jaccard verification as
    minhash_near_dups, with candidates restricted to CROSS-side pairs —
    intra-corpus and intra-batch duplicates are deliberately ignored
    (the corpus was already deduplicated; the batch dedupes against
    itself with the ordinary operators after admission).

    Output: (old_id, new_id, jaccard) — sides are normalized by the
    tag, not by id order (id ranges must be disjoint — the caller's
    ingest ids always are). Scale shape: band keys and buckets are
    computed over
    the UNION (one pipeline, no special-casing), the cross-side filter
    is two joins against the doc→side map, and only the batch's shingles
    expand new verification work — the steady-state cost of screening a
    delivery is proportional to the delivery, not the corpus (corpus
    signatures are recomputed here for self-containment; a production
    deployment persists them — the CDC snapshot format is the natural
    home)."""
    tagged = (corpus.select(F.col(id_col), F.col(text_col))
              .withColumn("__side", F.lit("old"))
              .unionByName(
                  batch.select(F.col(id_col), F.col(text_col))
                  .withColumn("__side", F.lit("new"))))
    sh = doc_shingles(tagged, id_col, text_col)
    keys = minhash_band_keys(sh)
    pairs = lsh_candidate_pairs(keys, max_bucket=max_bucket)
    sides = tagged.select(F.col(id_col).alias("__doc"), "__side")
    cross = (pairs
             .join(sides.select(F.col("__doc").alias("a"),
                                F.col("__side").alias("__sa")), "a")
             .join(sides.select(F.col("__doc").alias("b"),
                                F.col("__side").alias("__sb")), "b")
             .filter(F.col("__sa") != F.col("__sb"))
             .select("a", "b", "__sa"))
    verified = jaccard_verify(cross.select("a", "b"), sh,
                              threshold=threshold)
    return (verified.join(cross, ["a", "b"])
            .select(
                F.when(F.col("__sa") == "old", F.col("a"))
                 .otherwise(F.col("b")).alias("old_id"),
                F.when(F.col("__sa") == "old", F.col("b"))
                 .otherwise(F.col("a")).alias("new_id"),
                "jaccard"))


# ---------------------------------------------------------------------------
# Persisted-signature incremental dedup (the production form of
# incremental_near_dups: corpus signatures live in a CDC-format snapshot
# table and are NEVER recomputed from text — screening a delivery reads
# signature-sized parquet, not the corpus)
# ---------------------------------------------------------------------------


def minhash_signature_rows(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           bands: int = DEFAULT_BANDS,
                           rows_per_band: int = DEFAULT_ROWS_PER_BAND,
                           n: int = 3) -> DataFrame:
    """One signature row per document — everything incremental screening
    ever needs, so the TEXT never has to be read again:

      (doc_id, band_keys array<string>, shingle_hashes array<string>, sz)

    - ``band_keys``: the LSH band keys ('band_{b}|h..|h..', same md5
      slicing as minhash_band_keys) — candidate generation is an
      equi-join on the exploded array.
    - ``shingle_hashes``: the SORTED distinct md5('m:' || shingle)
      digests — exact-Jaccard verification runs on hash sets
      (J(hashes) == J(shingles) up to md5 collisions, the standard
      store-compaction trade: fixed 32-byte entries instead of raw
      n-gram text, and the md5 is the SAME one the band mins slice, so
      each shingle is hashed exactly once).
    - ``sz``: the distinct-shingle count (array size, carried so the
      verify join needs no size() recompute per candidate).

    Documents with fewer than ``n`` words have no shingles and no row —
    they can never near-dup under this measure.
    """
    w = _minhash_slice_width(bands * rows_per_band)
    sh = doc_shingles(docs, id_col, text_col, n=n)
    h = F.md5(F.concat(F.lit("m:"), F.col("shingle")))
    hashed = sh.select("doc", h.alias("h"))
    band_aggs = []
    for b in range(bands):
        parts = [
            F.min(F.substring("h", w * (b * rows_per_band + r) + 1, w))
            for r in range(rows_per_band)
        ]
        band_aggs.append(
            F.concat_ws("|", F.lit(f"band_{b}"), *parts).alias(f"_bk{b}"))
    sigs = hashed.groupBy("doc").agg(
        *band_aggs,
        F.array_sort(F.collect_list("h")).alias("shingle_hashes"),
        F.count(F.lit(1)).alias("sz"))
    return sigs.select(
        F.col("doc").alias(id_col),
        F.array(*[F.col(f"_bk{b}") for b in range(bands)])
         .alias("band_keys"),
        "shingle_hashes", "sz")


def signature_store_admit(sigs: DataFrame, root: str,
                          version: int) -> str:
    """Fold a batch of signature rows into the persisted store at
    ``root`` (CDC snapshot format: immutable version dirs + atomic
    pointer — streaming.upsert_cdc_snapshot), keyed by doc_id with
    ``version`` as the keep-latest order (the caller's delivery ordinal;
    re-admitting a delivery is an idempotent no-op). Returns the new
    version dir. The store IS the corpus as far as dedup is concerned:
    admitting is an O(delivery) write, and nothing ever re-shingles
    admitted text."""
    from clif_spark.streaming import upsert_cdc_snapshot

    rows = (sigs.withColumn("is_delete", F.lit(False))
                .withColumn("__v", F.lit(version)))
    return upsert_cdc_snapshot(rows, root, keys=["doc_id"],
                               order=["__v", "doc_id"],
                               lineage="minhash-sigs")


def signature_store_delete(spark, doc_ids: DataFrame, root: str,
                           version: int) -> str:
    """Takedown path: tombstone documents OUT of the persisted store
    (right-to-be-forgotten / licensing removal — the lifecycle every
    production corpus store needs beyond append). Folds one tombstone
    row per doc_id (is_delete=True, nulls for the signature payload)
    at ``version`` — keep-latest makes it beat the admitted row, and
    ``read_cdc_snapshot``'s read-time filter removes the doc from every
    subsequent screen. The record itself is RETAINED until
    ``streaming.compact_cdc_snapshot`` physically drops it (same
    retained-tombstone rationale as the CDC sink: a late re-admit at a
    LOWER version must still lose). O(|doc_ids|) + one copy-on-write
    version; never touches signature payloads or corpus text."""
    from pyspark.sql import types as T

    from clif_spark.streaming import upsert_cdc_snapshot

    rows = doc_ids.select(
        "doc_id",
        F.lit(None).cast(T.ArrayType(T.StringType())).alias("band_keys"),
        F.lit(None).cast(T.ArrayType(T.StringType()))
         .alias("shingle_hashes"),
        F.lit(None).cast("long").alias("sz"),
        F.lit(True).alias("is_delete"),
        F.lit(version).alias("__v"))
    return upsert_cdc_snapshot(rows, root, keys=["doc_id"],
                               order=["__v", "doc_id"],
                               lineage="minhash-sigs")


def signature_store_screen(spark, sigs: DataFrame, root: str,
                           threshold: float = 0.5) -> DataFrame:
    """Screen a delivery's signature rows against the persisted store:
    (old_id, new_id, jaccard) for every store document the delivery
    near-duplicates. THE point of the persisted form: this plan reads
    the signature store's parquet and the delivery signatures — never
    the corpus text (test_plans asserts the scan set).

    Shape: explode both sides' band_keys, equi-join on the key
    (UNCAPPED — cross joins are linear in matches, not quadratic in
    bucket size, so the exactness-vs-cap rule of pairs_from_buckets
    doesn't bite; a pathological boilerplate key is AQE skew-join
    territory, never an answer change), distinct the candidate pairs,
    then verify with one narrow array_intersect over the STORED hash
    sets. The delivery side is broadcast: a delivery is by contract
    small relative to the corpus, so candidate generation costs one
    corpus-signature scan with no shuffle (drop the hint if a delivery
    ever rivals the corpus).
    """
    from clif_spark.streaming import read_cdc_snapshot

    store = read_cdc_snapshot(spark, root).select(
        "doc_id", "band_keys", "shingle_hashes", "sz")
    old_k = store.select(F.col("doc_id").alias("old_id"),
                         F.explode("band_keys").alias("bk"))
    new_k = sigs.select(F.col("doc_id").alias("new_id"),
                        F.explode("band_keys").alias("bk"))
    cands = (old_k.join(F.broadcast(new_k), "bk")
                  .select("old_id", "new_id").distinct())
    scored = (cands
              .join(store.select(F.col("doc_id").alias("old_id"),
                                 F.col("shingle_hashes").alias("sh_a"),
                                 F.col("sz").alias("sz_a")), "old_id")
              .join(F.broadcast(
                        sigs.select(F.col("doc_id").alias("new_id"),
                                    F.col("shingle_hashes").alias("sh_b"),
                                    F.col("sz").alias("sz_b"))), "new_id")
              .select("old_id", "new_id",
                      F.size(F.array_intersect("sh_a", "sh_b"))
                       .alias("inter"), "sz_a", "sz_b")
              .select("old_id", "new_id",
                      F.round(F.col("inter")
                              / (F.col("sz_a") + F.col("sz_b")
                                 - F.col("inter")), 4).alias("jaccard")))
    return scored.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Bounded-memory exact-dup membership screen (Bloom filter from Catalyst
# primitives — the ingest-time complement of the signature store: the
# signature store answers "NEAR-dup of what?", the Bloom screen answers
# "exact fingerprint SEEN before?" in m bits instead of n×128-bit hashes)
# ---------------------------------------------------------------------------


def _bloom_positions(fp: F.Column, m_bits: int, k: int) -> F.Column:
    """k deterministic bit positions for one fingerprint: xxhash64 under
    k fixed seeds, pmod m. xxhash64 is a pure engine-stable function of
    (value, seed) — same bits on every executor, every run, every
    partitioning — which is what makes the filter reproducible and the
    zero-false-negative contract testable."""
    return F.array(*[
        F.pmod(F.xxhash64(fp, F.lit(seed)), F.lit(m_bits))
        for seed in range(k)])


def bloom_build(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", m_bits: int | None = None,
                k: int = 5) -> tuple[DataFrame, int]:
    """Build a Bloom filter over the corpus's exact-text fingerprints as
    a (word, bits) RELATION: bit positions pack into 64-bit words via a
    map-side-combined ``bit_or`` aggregate, so the build is ONE narrow
    pass + one word-grain exchange (m/64 rows — a few KB of shuffle for
    a filter covering any corpus). Returns (bitmap_df, m_bits).

    ``m_bits`` defaults to the next power of two >= 16 bits/doc (k=5 →
    ~0.1% false positives by the standard (1-e^{-kn/m})^k estimate; the
    count() this sizing needs is one columnless scan — pass m_bits to
    skip it). Why a relation and not a driver-side bitset: the screen
    joins it broadcast, so membership stays a JVM-side hash probe and
    the filter never transits Python; and at 100 TB the SAME relation
    bucket-joins if m outgrows the broadcast bar."""
    if m_bits is None:
        n = docs.count()
        m_bits = 1 << max(10, (16 * max(n, 1) - 1).bit_length())
    fp = docs.select(fingerprint(F.col(text_col)).alias("fp"))
    pos = fp.select(F.explode(
        _bloom_positions(F.col("fp"), m_bits, k)).alias("pos"))
    bitmap = (pos.select((F.col("pos") / 64).cast("long").alias("word"),
                         F.expr("shiftleft(1L, cast(pos % 64 as int))")
                          .alias("mask"))
              .groupBy("word").agg(F.bit_or("mask").alias("bits")))
    return bitmap, m_bits


def bloom_screen(delivery: DataFrame, bitmap: DataFrame, m_bits: int,
                 id_col: str = "doc_id", text_col: str = "text",
                 k: int = 5) -> DataFrame:
    """Screen a delivery against a built filter: a document is FLAGGED
    iff all k of its fingerprint's bits are set — Bloom semantics, so
    flagged ⊇ true duplicates (ZERO false negatives, the property the
    gated contract pins) with a bounded false-positive rate in
    exchange for m bits of state. Plan shape: explode k positions per
    doc, broadcast-join the word relation, count hits per doc — no
    corpus-sized anything. Output: (id, fp, flagged)."""
    fp = delivery.select(F.col(id_col),
                         fingerprint(F.col(text_col)).alias("fp"))
    probes = fp.select(
        id_col, "fp",
        F.explode(_bloom_positions(F.col("fp"), m_bits, k)).alias("pos"))
    hits = (probes
            .withColumn("word", (F.col("pos") / 64).cast("long"))
            .withColumn("mask",
                        F.expr("shiftleft(1L, cast(pos % 64 as int))"))
            .join(F.broadcast(bitmap), "word", "left")
            .withColumn("hit", (F.col("bits").isNotNull()
                                & (F.col("bits").bitwiseAND(F.col("mask")) != 0))
                         .cast("int"))
            .groupBy(id_col, "fp")
            .agg((F.sum("hit") == F.lit(k)).alias("flagged")))
    return hits
