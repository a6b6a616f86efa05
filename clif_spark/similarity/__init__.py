"""Similarity search over embedding columns (north star: BASELINE.json).

Brute-force cosine top-k as the exact baseline, plus a random-hyperplane LSH
bucketing as the scale path (the IVF idea: only compare within a bucket).

Engine-native math: dot products and norms are sequential left-folds over
array<double>, in one of two JVM-side forms with bit-identical results
(same left-to-right fold order, so either can face the oracle):
- ``dim=None`` (default): ``zip_with`` + ``aggregate`` higher-order
  functions. Lambda bodies run in the interpreted expression evaluator
  (HOFs do not participate in whole-stage codegen), but the plan is small
  and compiles instantly — the right choice for ad-hoc/one-shot plans.
- ``dim`` given: the fold is UNROLLED into a chain of ``a[i]*b[i]`` adds
  compiled by whole-stage codegen. Measured verdict (round-5 interleaved
  A/B with a WARM codegen cache, BASELINE.md): at dim=64 the unrolled
  chain loses ~2× to the HOF fold at BOTH sf0.1 and sf1 — per-element
  ``getItem`` null checks and a 64-term scalar add chain beat neither the
  HOF evaluator's tight primitive-array loop nor the JIT. Use it only for
  narrow dims (<= ~16); the HOF form is the default and the headliner.

Scale shape (100 TB / billions of vectors):
- brute-force top-k broadcasts the (small) query set and computes per
  partition; the only shuffle is the final per-query top-k (TakeOrdered-style
  partial heaps via window over query_id).
- LSH buckets: signature = sign bits against ``n_planes`` fixed hyperplanes;
  candidate generation is a groupBy(bucket) — identical join geometry to the
  MinHash text path (clif_spark.dedup). Recall is tuned by n_planes and
  multi-probe; verification re-ranks with exact cosine inside the bucket.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from clif_spark.io import ensure_parallelism
from clif_spark.operators.core import materialize


def _bound_ipc_tasks(df: DataFrame, bytes_per_task: int = 8 << 20
                     ) -> DataFrame:
    """Shrink (never grow) a scan's task count for an IPC-bound Python
    stage: each mapInArrow/mapInPandas task pays a fixed worker-dispatch
    cost (~25 ms measured), so a small input fragmented into many tiny
    row-group splits spends more on dispatch than on data. Coalesce —
    narrow, no shuffle — to ~bytes_per_task of input per task (measured
    at sf10: 13 splits 0.70 s -> 6 tasks 0.40 s on the ANN scoring
    scan). At production scale splits are >= bytes_per_task already and
    this is a no-op; non-file sources (no resolvable sizes) pass
    through untouched."""
    import os

    try:
        files = df.inputFiles()
        total = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
    except Exception:
        return df
    if not files or total == 0:
        return df
    target = max(1, total // bytes_per_task)
    # JVM-side probe (no Python RDD machinery — io.ensure_parallelism
    # rationale)
    current = df._jdf.rdd().getNumPartitions()
    if current > target:
        return df.coalesce(int(target))
    return df


def _lit_vec(values: list[float]) -> Column:
    """array<double> literal in ONE py4j round trip via a SQL string:
    ``F.array(*[F.lit(x) ...])`` and even ``F.lit(list)`` cost ~40 ms of
    driver chatter per 64-element vector (measured), which multiplied by
    8 tables x 4 planes made plan construction the dominant cost of the
    multi-table LSH queries. repr() round-trips doubles exactly."""
    return F.expr("array(" + ",".join(repr(float(x)) + "D" for x in values)
                  + ")")


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product of two array<double> columns (unrolled
    codegen chain when ``dim`` is known; see module docstring)."""
    if dim is not None:
        # Seed with 0.0 like the HOF fold so -0.0 products accumulate
        # identically (0.0 + -0.0 = 0.0): both forms emit the same bits.
        # Per-element double casts (exact for float inputs): casting the
        # whole array instead gets inlined by CollapseProject into every
        # subscript reference and re-materializes the array ~2×dim per row.
        acc: Column = F.lit(0.0)
        for i in range(dim):
            acc = acc + (a.getItem(i).cast("double")
                         * b.getItem(i).cast("double"))
        return acc
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column, dim: int | None = None) -> Column:
    if dim is not None:
        acc: Column = F.lit(0.0)
        for i in range(dim):
            e = a.getItem(i).cast("double")
            acc = acc + e * e
        return F.sqrt(acc)
    return F.sqrt(F.aggregate(a.cast("array<double>"), F.lit(0.0),
                              lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id",
                dim: int | None = None) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is (query_id, embedding) and is broadcast; self-matches
    (same id) are excluded. Ties break on neighbor id for determinism.
    Output: (query_id, neighbor_id, cos) with cos rounded to 4dp.
    """
    v = ensure_parallelism(vectors).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v"))
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__q"))
    scored = (v.join(F.broadcast(q), F.col("neighbor_id") != F.col(query_id_col))
                .select(query_id_col, "neighbor_id",
                        F.round(cosine(F.col("__q"), F.col("__v"), dim), 4)
                         .alias("cos")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(),
                                                 F.col("neighbor_id"))
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k).drop("__rn"))


def cosine_topk_arrow(vectors: DataFrame, queries: DataFrame, k: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k cosine neighbors via Arrow-batched numpy matmul — the
    throughput path for brute-force scoring when vectors × queries is
    large enough that per-row expression evaluation (``cosine_topk``'s
    HOF fold) leaves BLAS-level speed on the table.

    Shape (the part that matters at billions of vectors):
    - the QUERY matrix is collected and broadcast — query sets are
      dimension-sized by contract (same budget as the k-means centroid
      pull), never the corpus;
    - each Arrow batch of vectors is ONE normalized matmul
      (batch × dim) @ (dim × queries) inside numpy/BLAS — no per-row
      Python, no per-element py4j;
    - per-batch top-k pre-reduction: only k rows per (query, batch) leave
      the task, so the final exchange carries O(queries × k × batches)
      rows regardless of corpus size; a final window merges the partial
      heaps exactly.

    Scores are rounded half-up to 4dp INSIDE the batch (floor(x*1e4+0.5),
    matching Spark's ROUND for the positive/negative-non-half cases that
    occur in practice) and batch selection tie-breaks on neighbor id via
    lexsort — the same total order as the merge window, so the partial
    top-k is a true prefix and results match ``cosine_topk`` bit-for-bit
    on non-pathological data (tests pin the equivalence; last-ulp
    accumulation-order drift vs the sequential fold is absorbed by the
    4dp rounding, which is why the ORACLE-gated query keeps the fold).

    Output: (query_id, neighbor_id, cos) — same surface as cosine_topk.
    """
    import numpy as np

    q_rows = queries.select(query_id_col, vec_col).collect()
    qids_np = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bq = vectors.sparkSession.sparkContext.broadcast((qids_np, qm))

    def score(batches):
        import numpy as np
        import pyarrow as pa
        qids, qn = bq.value
        for b in batches:
            if b.num_rows == 0:
                continue
            # mapInArrow, not mapInPandas: the embedding column arrives
            # as a list<float> whose VALUES buffer is one contiguous
            # float32 run — flatten + frombuffer-style to_numpy +
            # reshape is a single bulk copy, vs pandas materializing
            # 200k per-row ndarray objects that np.stack then re-walks
            # (measured ~40% of the whole query's cost at sf10).
            ids = b.column(0).to_numpy(zero_copy_only=False) \
                   .astype(np.int64, copy=False)
            flat = b.column(1).flatten()
            v = (flat.to_numpy(zero_copy_only=False)
                 .reshape(b.num_rows, -1).astype(np.float64))
            with np.errstate(divide="ignore", invalid="ignore"):
                v = v / np.linalg.norm(v, axis=1, keepdims=True)
                s = np.floor((v @ qn.T) * 1e4 + 0.5) / 1e4
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                keep = ids != qids[j]
                cand_ids, cand_s = ids[keep], s[keep, j]
                if cand_ids.size == 0:
                    continue
                # Zero-norm vectors score NaN here, but the HOF fold gets
                # NULL (Spark SQL division returns NULL on 0.0/0.0), and
                # NULLs sort LAST under DESC — so NaN must rank lowest in
                # the batch cut (-inf key) and is converted to NULL after
                # the mapInArrow boundary to match the fold bit-for-bit.
                rank_s = np.where(np.isnan(cand_s), -np.inf, cand_s)
                order = np.lexsort((cand_ids, -rank_s))[:k]
                out_q.append(np.full(order.size, qids[j]))
                out_n.append(cand_ids[order])
                out_c.append(cand_s[order])
            if out_q:
                yield pa.RecordBatch.from_pydict({
                    query_id_col: pa.array(np.concatenate(out_q),
                                           type=pa.int64()),
                    "neighbor_id": pa.array(np.concatenate(out_n),
                                            type=pa.int64()),
                    "cos": pa.array(np.concatenate(out_c),
                                    type=pa.float64())})

    # No ensure_parallelism here, deliberately: parallelism = scan
    # splits. The matmul is trivially cheap per row, so a repartition
    # would shuffle the full vector payload to buy compute spread the
    # stage doesn't need — measured +0.4 s on a 13-split sf10 scan
    # whose no-shuffle form runs 0.5 s total. The opposite correction
    # applies instead (_bound_ipc_tasks): tiny fragmented scans merge
    # down so per-task Python dispatch doesn't dominate. At production
    # scale the scan yields >= cores full-size splits and both knobs
    # vanish.
    scored = _bound_ipc_tasks(vectors.select(
        F.col(id_col), F.col(vec_col))).mapInArrow(
        score, f"{query_id_col} long, neighbor_id long, cos double")
    # NaN -> NULL (see ranking comment): Arrow ships NaN as a double, but
    # the fold's zero-norm result is SQL NULL.
    scored = scored.withColumn(
        "cos", F.when(F.isnan("cos"), F.lit(None)).otherwise(F.col("cos")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(),
                                                 F.col("neighbor_id"))
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k).drop("__rn"))


def deterministic_hyperplanes(dim: int, n_planes: int, seed: str = "clif") -> list[list[float]]:
    """Pseudo-random unit-free hyperplanes derived from md5 — reproducible
    across engines/sessions with no RNG state (each component is an md5 of
    (seed, plane, coordinate) mapped into [-1, 1))."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            (val,) = struct.unpack(">Q", h[:8])
            row.append(val / float(2**63) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit signature of a vector against fixed hyperplanes, as a
    bitstring column ('101…'). Vectors in the same bucket are ANN candidates.

    Pass the COLUMN NAME (str) on hot plan-construction paths: the whole
    signature then becomes one ``F.expr`` SQL string — a single py4j round
    trip — where the Column form pays ~0.15 s of driver chatter per plane
    (each ``zip_with``/``aggregate`` lambda is its own JVM call), which
    dominated multi-table assignment (8 tables × 4 planes × 2 sides ≈ 10 s
    of pure plan building, measured)."""
    if isinstance(vec, str):
        cases = []
        for row in planes:
            arr = "array(" + ",".join(repr(float(x)) + "D" for x in row) + ")"
            d = (f"aggregate(zip_with(CAST({vec} AS ARRAY<DOUBLE>), {arr},"
                 " (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)")
            cases.append(f"CASE WHEN {d} >= 0 THEN '1' ELSE '0' END")
        return F.expr("concat(" + ", ".join(cases) + ")")
    bits = []
    for row in planes:
        bits.append(F.when(dot(vec, _lit_vec(row)) >= 0,
                           F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_assign(vectors: DataFrame, n_planes: int = 8,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int = 64) -> DataFrame:
    """Assign each vector to an LSH bucket: (id, bucket)."""
    planes = deterministic_hyperplanes(dim, n_planes)
    return vectors.select(
        F.col(id_col),
        lsh_bucket(vec_col, planes).alias("bucket"))


def table_seed(t: int, seed: str = "clif") -> str:
    """Hyperplane seed for LSH table ``t``: table 0 keeps the bare seed so
    single-table behavior (and its oracles) are unchanged."""
    return seed if t == 0 else f"{seed}:t{t}"


def lsh_assign_tables(vectors: DataFrame, n_planes: int, n_tables: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int = 64) -> DataFrame:
    """Multi-table LSH assignment: (id, tbl, bucket), one row per table.

    L independent tables of k planes each trade fan-out for recall —
    P(candidate) = 1-(1-p^k)^L per neighbor vs the k-planes-only p^k. The
    assignment is a narrow map (explode of L in-row signatures); candidate
    generation joins on (tbl, bucket), so the geometry stays the bucketed
    groupBy/join shape that scales."""
    entries = [
        F.struct(F.lit(t).alias("tbl"),
                 lsh_bucket(vec_col,
                            deterministic_hyperplanes(
                                dim, n_planes, table_seed(t))).alias("bucket"))
        for t in range(n_tables)]
    return (vectors.select(F.col(id_col), F.explode(F.array(*entries))
                           .alias("e"))
                   .select(id_col, "e.tbl", "e.bucket"))


def probe_buckets(bucket: Column, n_planes: int, multiprobe: int) -> Column:
    """Multi-probe LSH bucket expansion: the exact signature plus every
    bucket within Hamming distance ``multiprobe`` (0, 1 or 2 bit flips).

    Rationale: a true neighbor that disagrees with the query on ONE plane
    lands one bit away — probing those buckets recovers it without paying
    for another whole table. Probe count is 1, 1+k, or 1+k+k(k-1)/2 for
    multiprobe 0/1/2 (k = n_planes): fan-out grows linearly-ish while an
    extra table multiplies the stored index. Query-side only — the vector
    index keeps one bucket per vector per table."""
    if multiprobe not in (0, 1, 2):
        raise ValueError("multiprobe must be 0, 1 or 2")
    def flip(col: Column, i: int) -> Column:
        bit = F.when(F.substring(col, i + 1, 1) == "1",
                     F.lit("0")).otherwise(F.lit("1"))
        return F.concat(F.substring(col, 1, i), bit,
                        F.substring(col, i + 2, n_planes - i - 1))
    probes = [bucket]
    if multiprobe >= 1:
        probes += [flip(bucket, i) for i in range(n_planes)]
    if multiprobe >= 2:
        probes += [flip(flip(bucket, i), j)
                   for i in range(n_planes) for j in range(i + 1, n_planes)]
    return F.array(*probes)


def cosine_near_dup_pairs(vectors: DataFrame, threshold: float = 0.98,
                          n_planes: int = 6, id_col: str = "vec_id",
                          vec_col: str = "embedding", dim: int = 64,
                          max_bucket: int = 500) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    The all-pairs product never materializes: vectors are LSH-bucketed
    (identical-direction duplicates land in the same bucket by construction
    — sign bits are scale-invariant), candidate pairs are generated within
    buckets (same single-shuffle shape as MinHash text dedup), and exact
    cosine verifies candidates. Recall for non-identical near-dups is the
    standard LSH trade-off, tuned by n_planes.
    """
    from clif_spark.dedup import pairs_from_buckets

    assigned = lsh_assign(ensure_parallelism(vectors), n_planes, id_col,
                          vec_col, dim)
    pairs = pairs_from_buckets(assigned, ["bucket"], id_col,
                               max_bucket=max_bucket)
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("__v"))
    return (pairs
            .join(v.select(F.col(id_col).alias("a"),
                           F.col("__v").alias("__va")), "a")
            .join(v.select(F.col(id_col).alias("b"),
                           F.col("__v").alias("__vb")), "b")
            .select("a", "b",
                    F.round(cosine(F.col("__va"), F.col("__vb")), 4)
                     .alias("cos"))
            .filter(F.col("cos") >= threshold))


def lsh_cosine_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                    n_planes: int = 8, n_tables: int = 1,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id", dim: int = 64,
                    multiprobe: int = 0) -> DataFrame:
    """ANN top-k: restrict exact cosine to candidates sharing a bucket in
    at least one of ``n_tables`` independent LSH tables.

    Recall < 1 by construction — per true neighbor with per-plane agreement
    p, P(candidate) = 1-(1-p^n_planes)^n_tables; fan-out per query is
    ~n_tables×n/2^n_planes vectors instead of n. ``multiprobe`` expands the
    QUERY side to all buckets within that Hamming distance
    (``probe_buckets``), lifting per-table recall to P(Hamming(sig_q,
    sig_v) <= multiprobe) at linear probe cost — the usable single-table
    configuration. ``ann_recall_at_k`` measures the dial positions.
    Candidates found by several tables/probes are deduplicated before
    scoring, so exact cosine runs once per pair."""
    assigned = lsh_assign_tables(vectors, n_planes, n_tables, id_col,
                                 vec_col, dim).withColumnRenamed(
                                     id_col, "neighbor_id")
    q_assigned = lsh_assign_tables(
        queries.withColumnRenamed(query_id_col, id_col),
        n_planes, n_tables, id_col, vec_col, dim).withColumnRenamed(
            id_col, query_id_col)
    if multiprobe:
        q_assigned = q_assigned.select(
            query_id_col, "tbl",
            F.explode(probe_buckets(F.col("bucket"), n_planes, multiprobe))
             .alias("bucket"))
    cand_ids = (assigned.join(F.broadcast(q_assigned), ["tbl", "bucket"])
                .filter(F.col("neighbor_id") != F.col(query_id_col))
                .select(query_id_col, "neighbor_id").distinct())
    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("__v"))
    q = queries.select(query_id_col, F.col(vec_col).alias("__q"))
    cand = (cand_ids.join(v, "neighbor_id").join(F.broadcast(q), query_id_col))
    scored = cand.select(query_id_col, "neighbor_id",
                         F.round(cosine(F.col("__q"), F.col("__v")), 4)
                          .alias("cos"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(),
                                                 F.col("neighbor_id"))
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k).drop("__rn"))


# --- IVF (inverted-file) ANN -------------------------------------------------

def ivf_centroids(vectors: DataFrame, n_cells: int = 16,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic coarse quantizer for IVF: the ``n_cells`` lowest-id
    vectors serve as fixed centroids (model-free, reproducible in any
    engine — the oracle recomputes the identical set). The trained
    alternative is ``kmeans`` below (distributed Lloyd's, deterministic
    md5 init, convergence-tracked) — assignment and search are unchanged
    by the centroid source, so swapping is
    ``centroids, _, _ = kmeans(vectors, k=n_cells)``.
    The driver-side collect is a dimension-table lookup (n_cells × dim
    floats), the same footprint as a broadcast vocabulary."""
    rows = (vectors.orderBy(id_col).limit(n_cells)
                   .select(F.col(vec_col).cast("array<double>").alias("v"))
                   .collect())
    return [list(r.v) for r in rows]


def _l2(vec: Column, cent: list[float]) -> Column:
    c = _lit_vec(cent)
    return F.sqrt(F.aggregate(
        F.zip_with(vec.cast("array<double>"), c,
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v))


def _cell_ranks(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of (distance, cell-index) structs sorted ascending — struct
    ordering compares distance first, index as the deterministic tiebreak.
    A pure narrow expression: no shuffle, no crossJoin blowup; the centroid
    table is inlined as literals exactly like the LSH hyperplanes."""
    return F.array_sort(F.array(*[
        F.struct(_l2(vec, c).alias("d"), F.lit(i).alias("c"))
        for i, c in enumerate(centroids)]))


def ivf_assign(vectors: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid: (id, __v, cell)."""
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("__v"))
    return v.withColumn("cell", _cell_ranks(F.col("__v"), centroids)[0]["c"])


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
             nprobe: int = 2, n_cells: int = 16, id_col: str = "vec_id",
             vec_col: str = "embedding",
             query_id_col: str = "query_id",
             centroids: list | None = None) -> DataFrame:
    """IVF ANN search: partition vectors into ``n_cells`` inverted lists,
    probe the ``nprobe`` nearest cells per query, exact-cosine re-rank.

    ``centroids`` plugs in a trained coarse quantizer (``kmeans`` output);
    by default the deterministic lowest-id quantizer is used (the form the
    SQL oracle can recompute). Assignment and search are identical either
    way — only the cell geometry changes.

    Scale shape: assignment is a narrow map (centroids inlined); the search
    join broadcasts (query × probed cell) — each query touches ~nprobe/n_cells
    of the corpus instead of all of it, the IVF trade: recall bounded by
    nprobe, tuned against fan-out. Output: (query_id, neighbor_id, cos)."""
    cents = (centroids if centroids is not None
             else ivf_centroids(vectors, n_cells, id_col, vec_col))
    assigned = (ivf_assign(vectors, cents, id_col, vec_col)
                .withColumnRenamed(id_col, "neighbor_id"))
    q = queries.select(query_id_col, F.col(vec_col).alias("__q"))
    probes = (q.withColumn("__cells", F.slice(
                    _cell_ranks(F.col("__q"), cents), 1, nprobe))
               .select(query_id_col, "__q",
                       F.explode(F.col("__cells")["c"]).alias("cell")))
    cand = (assigned.join(F.broadcast(probes), "cell")
                    .filter(F.col("neighbor_id") != F.col(query_id_col)))
    scored = cand.select(query_id_col, "neighbor_id",
                         F.round(cosine(F.col("__q"), F.col("__v")), 4)
                          .alias("cos"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(),
                                                 F.col("neighbor_id"))
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k).drop("__rn"))


# --- distributed k-means (Lloyd's) -------------------------------------------

def kmeans(vectors: DataFrame, k: int = 8, max_iter: int = 10,
           tol: float = 1e-6, id_col: str = "vec_id",
           vec_col: str = "embedding",
           seed: str = "km") -> tuple[list[list[float]], DataFrame, list[float]]:
    """Distributed Lloyd's k-means over an embedding column — the trained
    coarse quantizer ``ivf_centroids`` documents as the production swap-in.

    Returns ``(centroids, assignments, inertia_history)``: k×dim centroid
    list, an (id, cell) DataFrame for the final assignment, and per-
    iteration inertia (sum of squared assigned distances) so callers can
    see convergence instead of trusting it.

    Execution shape (the 100 TB story, same discipline as
    ``operators.graph.connected_components``):
    - ASSIGN is a pure narrow expression — centroids inline as literals
      (``_cell_ranks``, the same mechanism as the LSH hyperplanes), so each
      iteration's assignment costs one scan, zero shuffles.
    - UPDATE is posexplode + groupBy(cell, pos) average: map-side combine
      reduces the shuffle to k×dim partial sums per partition — KBs at any
      corpus size. The k×dim result collects to the driver (dimension-table
      scale, the footprint ``ivf_centroids`` already documents).
    - The driver-side loop is control flow only; per-round lineage is cut
      by ``core.materialize`` on the input, not by recursive plan growth
      (each round's plan references the checkpointed base, not the prior
      round).
    - Init is deterministic: the k vectors with the smallest
      ``md5(seed || id)`` — a reproducible pseudo-random spread with no
      RNG state (k-means++ would need a sequential scan per seed; the
      md5 pick is the scale-friendly compromise).
    - Empty cells keep their previous centroid (the standard Lloyd's
      degeneracy guard).
    Convergence: stops early when inertia improves by less than ``tol``
    relative, else after ``max_iter`` rounds.
    """
    if max_iter < 1:
        raise ValueError("kmeans requires max_iter >= 1")
    v = materialize(ensure_parallelism(vectors).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v")))
    init = (v.orderBy(F.md5(F.concat(F.lit(seed + ":"),
                                     F.col("__id").cast("string"))), "__id")
             .limit(k).select("__v").collect())
    cents = [list(r["__v"]) for r in init]
    history: list[float] = []
    for _ in range(max_iter):
        best = _cell_ranks(F.col("__v"), cents)[0]
        assigned = v.select("__id", "__v", best["c"].alias("cell"),
                            (best["d"] * best["d"]).alias("__sq"))
        stats = (assigned
                 .select("cell", F.posexplode("__v").alias("pos", "val"))
                 .groupBy("cell", "pos")
                 .agg(F.avg("val").alias("m"))
                 .collect())
        inertia = assigned.agg(F.sum("__sq")).first()[0] or 0.0
        history.append(float(inertia))
        new_cents = [list(c) for c in cents]  # empty cells keep position
        by_cell: dict[int, dict[int, float]] = {}
        for r in stats:
            by_cell.setdefault(r.cell, {})[r.pos] = r.m
        for cell, dims in by_cell.items():
            new_cents[cell] = [dims[p] for p in sorted(dims)]
        if len(history) >= 2 and history[-2] > 0 and \
                (history[-2] - history[-1]) / history[-2] < tol:
            cents = new_cents
            break
        cents = new_cents
    # Re-assign against the returned (post-update) centroids so the
    # (centroids, assignments) pair is self-consistent rather than a half
    # Lloyd's step apart — one extra narrow literal-centroid pass, no shuffle.
    final_best = _cell_ranks(F.col("__v"), cents)[0]
    final = v.select(F.col("__id").alias(id_col),
                     final_best["c"].alias("cell"))
    return cents, final, history


def semantic_dedup(vectors: DataFrame, threshold: float = 0.95,
                   k: int | None = None, max_iter: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = 64) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with k-means, generate candidate pairs only WITHIN
    clusters, verify with exact cosine >= ``threshold``, connect verified
    pairs into components, and keep one representative (the min id) per
    component — the embedding-space analog of MinHash near-dup removal,
    catching paraphrases and re-encodings that share no tokens.

    Output: (id, cell, status 'kept'|'dropped', dup_of) — one row per
    input vector; ``dup_of`` is the kept representative for dropped rows,
    NULL for kept rows. Invariants (driver-gated by
    dedup_semantic_contract): every input appears exactly once; every
    dropped row's representative is itself kept; every dropped row earned
    its verdict through a verified >=threshold edge.

    Scale shape: k-means is the existing dimension-scale implementation
    (literal-centroid narrow assign, k×dim driver traffic only);
    candidate generation is an equi self-JOIN on the cell — exact within
    every cluster at ANY cluster size (the capped bucket expansion the
    approximate dedups share would silently DROP oversized cells' pairs,
    the class of bug the r7 prefix-filter scale test caught — see
    BASELINE.md round 7); within-cell quadratic cost is SemDeDup's own
    documented trade, dialed by the cluster count k (cells ~ n/k).
    Cosine verification joins only candidate pairs; the component step
    is the existing edge-relation min-label propagation.

    ``k=None`` (default) sizes the cluster count to the corpus —
    max(8, n/1500) capped at 4096 — so cells stay ~1500 vectors and the
    within-cell quadratic stays bounded as the corpus grows (measured at
    20k vectors: k=8 -> 446 s, k=16 -> 203 s, k=64 -> 82 s — the cost
    halves as k doubles, exactly the n²/k law; BASELINE.md round 7).
    The count() this needs is one columnless scan; pass an explicit k to
    skip it.
    """
    from clif_spark.operators.graph import connected_components

    if k is None:
        k = min(max(8, vectors.count() // 1500), 4096)
    _, assign, _ = kmeans(vectors, k=k, max_iter=max_iter,
                          id_col=id_col, vec_col=vec_col)
    cells = assign.select("cell", F.col(id_col))
    cands = (cells.withColumnRenamed(id_col, "a")
             .join(cells.withColumnRenamed(id_col, "b"), "cell")
             .filter(F.col("a") < F.col("b"))
             .select("a", "b").distinct())
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("__v"))
    edges = (cands
             .join(v.select(F.col(id_col).alias("a"),
                            F.col("__v").alias("__va")), "a")
             .join(v.select(F.col(id_col).alias("b"),
                            F.col("__v").alias("__vb")), "b")
             .select("a", "b",
                     F.round(cosine(F.col("__va"), F.col("__vb"), dim), 4)
                      .alias("cos"))
             .filter(F.col("cos") >= threshold))
    # candidate pairs are a < b, so no self-loop (which graph CC drops)
    comp = connected_components(edges, "a", "b").select(
        F.col("node").alias("doc"), F.col("component").alias("cluster_id"))
    return (vectors.select(F.col(id_col))
            .join(assign.withColumnRenamed(id_col, "__aid"),
                  F.col(id_col) == F.col("__aid"))
            .join(comp.withColumnRenamed("doc", "__cid"),
                  F.col(id_col) == F.col("__cid"), "left")
            .select(
                F.col(id_col), "cell",
                F.when(F.col("cluster_id").isNull()
                       | (F.col("cluster_id") == F.col(id_col)),
                       F.lit("kept")).otherwise(F.lit("dropped"))
                 .alias("status"),
                F.when(F.col("cluster_id") != F.col(id_col),
                       F.col("cluster_id")).alias("dup_of")))


# ---------------------------------------------------------------------------
# Persisted semantic-dedup store (the embedding-space twin of
# dedup.signature_store_*: train the cell structure ONCE, screen every
# delivery against stored cells — no per-delivery k-means, no corpus
# embedding re-scan)
# ---------------------------------------------------------------------------


def semantic_store_build(vectors: DataFrame, root: str,
                         k: int | None = None, max_iter: int = 5,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> list[list[float]]:
    """Train k-means once and persist BOTH halves of the semantic-dedup
    state: the centroids (a k×dim parquet under ``root/centroids`` —
    dimension-table scale) and the per-vector (id, cell, embedding)
    membership rows in the CDC snapshot format (immutable versions +
    atomic pointer, shared machinery with the MinHash signature store).
    Returns the centroids for callers that want them in-process.

    The cell structure is FROZEN at build time: admitted deliveries are
    assigned to the existing cells without retraining (an identical
    vector always lands in its source's cell — the screen contract the
    gated row pins; drifted corpora retrain by rebuilding, the
    compaction analog). Scale: one k-means over the corpus, ever."""
    from clif_spark.streaming import upsert_cdc_snapshot

    spark = vectors.sparkSession
    if k is None:
        k = min(max(8, vectors.count() // 1500), 4096)
    cents, assign, _ = kmeans(vectors, k=k, max_iter=max_iter,
                              id_col=id_col, vec_col=vec_col)
    rows = (assign.join(vectors.select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias("embedding")),
                id_col)
            .select(id_col, "cell", "embedding")
            .withColumn("is_delete", F.lit(False))
            .withColumn("__v", F.lit(0)))
    upsert_cdc_snapshot(rows, root, keys=[id_col],
                        order=["__v", id_col], lineage="semantic-cells")
    spark.createDataFrame(
        [(i, list(c)) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/centroids")
    return cents


def _semantic_store_centroids(spark, root: str) -> list[list[float]]:
    rows = spark.read.parquet(f"{root}/centroids").collect()
    return [list(r.centroid) for r in sorted(rows, key=lambda r: r.cell)]


def semantic_store_screen(spark, delivery: DataFrame, root: str,
                          threshold: float = 0.95,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Screen a delivery of embeddings against the persisted store:
    assign each delivery vector to its nearest STORED centroid (narrow
    literal-centroid expression — no shuffle), join the store's members
    of exactly those cells, exact cosine >= ``threshold``. Output:
    (old_id, new_id, cos). The plan reads the store's parquet and the
    delivery — never the original corpus embeddings, and never a
    k-means iteration (test_plans asserts the scan set)."""
    from clif_spark.streaming import read_cdc_snapshot

    cents = _semantic_store_centroids(spark, root)
    store = read_cdc_snapshot(spark, root).select(
        F.col(id_col).alias("old_id"), "cell",
        F.col("embedding").alias("__va"))
    d = delivery.select(
        F.col(id_col).alias("new_id"),
        F.col(vec_col).cast("array<double>").alias("__vb"))
    d = d.withColumn("cell", _cell_ranks(F.col("__vb"), cents)[0]["c"])
    scored = (store.join(F.broadcast(d), "cell")
              .select("old_id", "new_id",
                      F.round(cosine(F.col("__va"), F.col("__vb")), 4)
                       .alias("cos")))
    return scored.filter(F.col("cos") >= threshold)


def semantic_store_rebuild(spark, root: str, version: int,
                           k: int | None = None, max_iter: int = 5,
                           id_col: str = "vec_id") -> list[list[float]]:
    """The drift RESPONSE the recall contract triggers
    (semantic_store_drift_recall): retrain the frozen cell structure
    from the store's OWN live membership rows — the store is
    self-contained (it carries the embeddings), so a rebuild never
    re-reads the original corpus. New k-means centroids replace
    ``root/centroids``; every live vector is re-assigned and re-folded
    at ``version`` (which must exceed all admitted versions so the new
    cell assignments win keep-latest). Tombstoned ids are absent from
    the live read and stay suppressed — takedown survives retraining.

    Invariant the contract row pins: an exact copy of a stored vector
    screens to its source at cosine 1.0 under ANY cell structure
    (identical vectors assign identically), so rebuild changes
    recall/cost trade-offs, never exact-match answers. Scale: one
    k-means over the store + one O(store) reassignment fold — the
    explicitly-invoked maintenance op, not a per-delivery cost."""
    from clif_spark.streaming import read_cdc_snapshot, upsert_cdc_snapshot

    live = read_cdc_snapshot(spark, root).select(id_col, "embedding")
    if k is None:
        k = min(max(8, live.count() // 1500), 4096)
    cents, assign, _ = kmeans(live, k=k, max_iter=max_iter,
                              id_col=id_col, vec_col="embedding")
    rows = (assign.join(live, id_col)
            .select(id_col, "cell", "embedding")
            .withColumn("is_delete", F.lit(False))
            .withColumn("__v", F.lit(version)))
    upsert_cdc_snapshot(rows, root, keys=[id_col],
                        order=["__v", id_col], lineage="semantic-cells")
    spark.createDataFrame(
        [(i, list(c)) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/centroids")
    return cents


def semantic_store_delete(spark, vec_ids: DataFrame, root: str,
                          version: int, id_col: str = "vec_id") -> str:
    """Takedown path for the semantic store (embedding-space twin of
    dedup.signature_store_delete): tombstone vectors OUT of the
    persisted membership table — keep-latest makes the tombstone beat
    the admitted row, read-time filtering removes the vector from every
    subsequent screen, and compaction physically drops it. The FROZEN
    centroids are untouched: cell structure is training state, not
    membership state, so deletion never triggers a retrain (a corpus
    shrunk far enough to drift the cells shows up in the
    drift-recall contract instead). O(|vec_ids|) + one copy-on-write
    version."""
    from pyspark.sql import types as T

    from clif_spark.streaming import upsert_cdc_snapshot

    rows = vec_ids.select(
        id_col,
        F.lit(None).cast("int").alias("cell"),
        F.lit(None).cast(T.ArrayType(T.DoubleType())).alias("embedding"),
        F.lit(True).alias("is_delete"),
        F.lit(version).alias("__v"))
    return upsert_cdc_snapshot(rows, root, keys=[id_col],
                               order=["__v", id_col],
                               lineage="semantic-cells")


def semantic_store_admit(spark, delivery: DataFrame, root: str,
                         version: int, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> str:
    """Fold a delivery into the store: assign to the FROZEN cells and
    upsert (O(delivery) work + one copy-on-write version). Subsequent
    screens see these vectors — the store grows without retraining."""
    from clif_spark.streaming import upsert_cdc_snapshot

    cents = _semantic_store_centroids(spark, root)
    rows = (delivery.select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias("embedding"))
            .withColumn("cell",
                        _cell_ranks(F.col("embedding"), cents)[0]["c"])
            .select(id_col, "cell", "embedding")
            .withColumn("is_delete", F.lit(False))
            .withColumn("__v", F.lit(version)))
    return upsert_cdc_snapshot(rows, root, keys=[id_col],
                               order=["__v", id_col],
                               lineage="semantic-cells")


def matryoshka_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                    coarse_dim: int = 16, candidates: int = 50,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id") -> DataFrame:
    """Two-stage ANN over Matryoshka-style embeddings (Kusupati et al.
    2022: nested representations whose PREFIX is itself a usable
    embedding): stage 1 scores every vector by cosine over only the
    first ``coarse_dim`` dimensions (slice — cosine needs no renorm,
    it normalizes by construction) and keeps ``candidates`` per query;
    stage 2 reranks exactly those candidates with FULL-dimension exact
    cosine and emits top-``k``. Both stages are deterministic (4dp
    rounding before ranking, neighbor-id tiebreak), so the whole
    funnel is oracle-recomputable — no recall contract needed, the
    ANSWER is gated.

    Scale: stage 1 is the cheap pass — coarse_dim/dim of the multiply
    work per vector; at 100 TB store the prefix as its OWN column so
    the scan prunes to it (a nested array never prunes partially).
    Stage 2 touches candidates × queries rows only. The candidate
    count is the recall dial: prefix cosine approximates full cosine,
    so a too-small C loses true neighbors — C >= 5k is the usual
    operating point."""
    v = ensure_parallelism(vectors).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v"),
        F.slice(F.col(vec_col), 1, coarse_dim).alias("__vc"))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__q"),
        F.slice(F.col(vec_col), 1, coarse_dim).alias("__qc"))
    coarse = (v.join(F.broadcast(q),
                     F.col("neighbor_id") != F.col(query_id_col))
              .select(query_id_col, "neighbor_id", "__v", "__q",
                      F.round(cosine(F.col("__qc"), F.col("__vc")), 4)
                       .alias("__cc")))
    wc = Window.partitionBy(query_id_col).orderBy(
        F.col("__cc").desc(), F.col("neighbor_id"))
    cand = (coarse.withColumn("__rn", F.row_number().over(wc))
                  .filter(F.col("__rn") <= candidates))
    wf = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col("neighbor_id"))
    return (cand.select(query_id_col, "neighbor_id",
                        F.round(cosine(F.col("__q"), F.col("__v")), 4)
                         .alias("cos"))
                .withColumn("__rn", F.row_number().over(wf))
                .filter(F.col("__rn") <= k).drop("__rn"))
