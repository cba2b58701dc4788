"""Similarity search over an embedding column (array<float>).

- cosine(): JVM-side column expression (zip_with + aggregate in double
  precision) — no Python in the hot path.
- knn_bruteforce(): exact top-k by cosine for a SMALL set of query
  vectors (capped, asserted). Query side is broadcast, so the scan
  side streams once with no shuffle.
- knn_self_join(): exact all-pairs top-k WITHOUT any driver collect —
  block-pair grouping: both sides are bucketed into n_blocks, every
  (query-block, pool-block) pair becomes one applyInPandas group whose
  task runs a bounded matmul and emits only its local top-k. Shuffle
  volume is 2·N·n_blocks rows; peak task memory is two blocks. Exact
  KNN is inherently O(N²) flops — this distributes and memory-bounds
  it; the *approximate* scale path for huge N is lsh_ann().
- lsh_ann(): random-hyperplane LSH — sign-bit bucket per vector
  (vectorized pandas UDF; hyperplanes derived from a fixed seed), then
  candidates restricted to same-bucket (or near-bucket) vectors: the
  scale path, turning O(N·Q) into O(N·Q/2^bits) with an equi-join.

Why near-dup is NOT routed through lsh_ann: measured on the synthetic
embeddings, qualifying near-dup pairs sit at cosine ≈ 0.30, where a
hyperplane bit agrees with probability 1-acos(0.3)/π ≈ 0.60, i.e. a
6-bit table retains ≈4.5% of true pairs — no sane (bits, tables)
setting reaches the exact-recall the oracle gate demands. Exactness
at low thresholds requires the all-pairs scan; knn_self_join makes
that scan distributed and bounded instead of a driver collect.

All rankings use one total order — (round(cos, 6) DESC, neighbor_id
ASC) — applied identically in local partition pruning and the global
window, so results are partition-invariant under ties.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import spread

__all__ = [
    "cosine",
    "knn_bruteforce",
    "knn_self_join",
    "lsh_bucket_df",
    "axis_bucket_df",
    "lsh_ann",
    "ivf_ann",
    "train_ivf_centroids",
    "embedding_near_dup",
]

#: knn_bruteforce broadcasts its query matrix to every task; above this
#: many queries the broadcast + per-task matmul stops being the right
#: shape (use knn_self_join or lsh_ann instead) — fail loudly.
MAX_BRUTEFORCE_QUERIES = 8192


def _local_topk(ids: np.ndarray, col: np.ndarray, self_id, k: int):
    """Indices of the local top-k under the global total order
    (round(cos,6) desc, neighbor_id asc), excluding the self match.
    Using the same order locally and globally keeps tied candidates
    (duplicate embeddings — the key near-dup case) partition-invariant.

    O(B) argpartition narrows to the top k+1 ROUNDED scores plus every
    candidate tied at the boundary score, and only that subset is
    lexsorted — same result as a full sort, without the B·log B cost
    in the per-query hot path.
    """
    rounded = np.round(col, 6)
    n = len(ids)
    take = min(k + 1, n)  # +1 absorbs the self match
    if n > take:
        part = np.argpartition(-rounded, take - 1)[:take]
        threshold = rounded[part].min()
        cand = np.flatnonzero(rounded >= threshold)
    else:
        cand = np.arange(n)
    order = cand[np.lexsort((ids[cand], -rounded[cand]))]
    out = []
    for j in order:
        if ids[j] == self_id:
            continue
        out.append(int(j))
        if len(out) == k:
            break
    return out


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<float> columns (double math)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def vec_norm(v: Column) -> Column:
    """sqrt(dot(v, v)) — the exact norm subexpression of cosine().

    Hoisting it onto the pre-join frames (one norm per VECTOR instead
    of two per PAIR) is a pure common-subexpression elimination:
    `dot(a,b) / (na * nb)` with na/nb precomputed evaluates the same
    float operations in the same order as cosine(a, b), so results are
    bit-identical — but an N×K cross join evaluates 3 interpreted HOF
    dot products per pair without it and 1 with it."""
    return F.sqrt(_dot(v, v))


def _cos_pre(dot_ab: Column, na: Column, nb: Column) -> Column:
    """cosine() with the two norms supplied (see vec_norm)."""
    return dot_ab / (na * nb)


def knn_bruteforce(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (small Q).

    Output: query_id, neighbor_id, cosine (4dp), rank.

    The scale shape: queries are collected to a (Q, dim) matrix and
    broadcast; each partition computes one vectorized matmul against
    its embedding block and emits only its local top-k per query
    (Arrow-batched pandas UDF — the interpreted per-pair HOF dot
    product was ~50× slower); the global top-k merge is a tiny
    window over Q·k·partitions rows. Raises if Q exceeds
    MAX_BRUTEFORCE_QUERIES — a full-table query side must go through
    knn_self_join (exact) or lsh_ann (approximate) instead.
    """
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T

    # cap check happens on the collected rows — a separate count()
    # would execute the query-side plan twice
    qrows = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .limit(MAX_BRUTEFORCE_QUERIES + 1)
        .collect()
    )
    if len(qrows) > MAX_BRUTEFORCE_QUERIES:
        raise ValueError(
            f"knn_bruteforce got > {MAX_BRUTEFORCE_QUERIES} queries; "
            "broadcasting that many vectors to every task is the wrong plan — "
            "use knn_self_join (exact, distributed) or lsh_ann (approximate)."
        )
    if not qrows:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_ids = np.asarray([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    sc = embeddings.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, Qn))

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def it(batches):
        q_ids_b, Qn_b = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["neighbor_id"].to_numpy()
            M = np.stack(pdf["ev"].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            sims = Mn @ Qn_b.T  # (B, Q)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(q_ids_b)):
                col = sims[:, qi]
                for j in _local_topk(ids, col, q_ids_b[qi], k):
                    out_q.append(q_ids_b[qi])
                    out_n.append(ids[j])
                    out_c.append(float(col[j]))
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cos": out_c})

    local = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ev")
    ).mapInPandas(it, schema=schema)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos"), 6).desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def knn_self_join(embeddings: DataFrame, k: int = 5, n_blocks: int = 8) -> DataFrame:
    """Exact all-pairs top-k cosine self-join — distributed, bounded,
    no driver collect.

    Shape: every vector gets a hash block in [0, n_blocks); the query
    side is replicated across all pool blocks and the pool side across
    all query blocks (shuffle volume 2·N·n_blocks rows), so each of
    the n_blocks² applyInPandas groups holds exactly one query block ×
    one pool block and runs a single bounded matmul, emitting only its
    local top-k per query under the global total order. A final window
    merges n_blocks local winners per query. Peak task memory is two
    blocks of N/n_blocks vectors — size n_blocks so a block fits an
    executor; work is the inherent O(N²) flops of exact KNN, spread
    over n_blocks² independent tasks.

    Output schema matches knn_bruteforce:
    query_id, neighbor_id, cosine (4dp), rank.
    """
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    e = embeddings.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("v"),
        F.pmod(F.hash(F.col("vec_id")), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    peers = spark.range(n_blocks).select(F.col("id").cast("int").alias("peer"))
    qside = e.crossJoin(F.broadcast(peers)).select(
        F.col("blk").alias("qblk"),
        F.col("peer").alias("pblk"),
        "vid",
        "v",
        F.lit(True).alias("is_q"),
    )
    pside = e.crossJoin(F.broadcast(peers)).select(
        F.col("peer").alias("qblk"),
        F.col("blk").alias("pblk"),
        "vid",
        "v",
        F.lit(False).alias("is_q"),
    )
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["is_q"]]
        p = pdf[~pdf["is_q"]]
        if q.empty or p.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cos": []}).astype(
                {"query_id": "int64", "neighbor_id": "int64", "cos": "float64"}
            )
        Qm = np.stack(q["v"].to_numpy()).astype(np.float64)
        Pm = np.stack(p["v"].to_numpy()).astype(np.float64)
        Qn = Qm / np.linalg.norm(Qm, axis=1, keepdims=True)
        Pn = Pm / np.linalg.norm(Pm, axis=1, keepdims=True)
        sims = Qn @ Pn.T  # (q, p)
        qids = q["vid"].to_numpy()
        pids = p["vid"].to_numpy()
        out_q, out_n, out_c = [], [], []
        for qi in range(len(qids)):
            col = sims[qi]
            for j in _local_topk(pids, col, qids[qi], k):
                out_q.append(qids[qi])
                out_n.append(pids[j])
                out_c.append(float(col[j]))
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cos": out_c})

    local = (
        qside.unionByName(pside)
        .groupBy("qblk", "pblk")
        .applyInPandas(block_pair, schema=schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos"), 6).desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_bits, dim)).astype(np.float64)


def lsh_bucket_df(
    df: DataFrame,
    dim: int,
    n_bits: int = 8,
    seed: int = 13,
    n_tables: int = 1,
) -> DataFrame:
    """Assign each vector its sign-bit LSH bucket in each of `n_tables`
    hash tables (multi-table LSH: candidate recall grows with L while
    each join stays selective). Vectorized pandas UDF: one matmul per
    Arrow batch against the broadcast hyperplanes.
    Output: (vec_id, table_id, bucket) — one row per table."""
    planes = np.stack(
        [_hyperplanes(dim, n_bits, seed + 1000 * t) for t in range(n_tables)]
    )  # (L, n_bits, dim)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("table_id", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
        ]
    )
    weights = 1 << np.arange(n_bits)

    def it(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)  # (B, dim)
            ids = pdf["vec_id"].to_numpy()
            frames = []
            for t in range(n_tables):
                bits = (M @ planes[t].T) > 0  # (B, n_bits)
                bucket = (bits * weights).sum(axis=1).astype(np.int32)
                frames.append(
                    pd.DataFrame(
                        {"vec_id": ids, "table_id": np.int32(t), "bucket": bucket}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select("vec_id", "embedding").mapInPandas(it, schema=schema)


def axis_bucket_df(df: DataFrame, n_bits: int = 6, n_tables: int = 4) -> DataFrame:
    """Deterministic axis-aligned hyperplane LSH buckets — pure
    Catalyst, no Python worker: table t's bucket packs the sign bits
    of embedding components [t*n_bits, (t+1)*n_bits). Axis-aligned
    planes are a valid hyperplane family (for non-degenerate data) and
    are expressible in ANSI SQL, which makes the full ANN query
    oracle-checkable end to end. Requires dim >= n_bits * n_tables.
    Output: (vec_id, table_id, bucket) — one row per table."""
    vec = F.col("embedding")
    tables = []
    for t in range(n_tables):
        bucket = F.lit(0)
        for i in range(n_bits):
            bucket = bucket + F.when(
                F.element_at(vec, t * n_bits + i + 1) > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
        tables.append(
            F.struct(
                F.lit(t).cast("int").alias("table_id"),
                bucket.cast("int").alias("bucket"),
            )
        )
    return df.select("vec_id", F.explode(F.array(*tables)).alias("tb")).select(
        "vec_id", F.col("tb.table_id").alias("table_id"), F.col("tb.bucket").alias("bucket")
    )


def lsh_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 6,
    seed: int = 13,
    n_tables: int = 4,
    planes: str = "random",
) -> DataFrame:
    """Approximate top-k: candidates = same bucket in ANY of n_tables
    LSH tables (union via distinct on the (table_id, bucket) equi-join),
    ranked by exact cosine. Output schema matches knn_bruteforce
    (recall measured in tests against it).

    planes="random": seeded gaussian hyperplanes (pandas-UDF matmul).
    planes="axis": deterministic sign-bit buckets (pure Catalyst, SQL-
    expressible — the oracle-checked flavor); ignores `seed`."""
    from pyspark.sql import Window

    if planes == "axis":
        if dim < n_bits * n_tables:
            raise ValueError(f"axis planes need dim >= n_bits*n_tables ({n_bits*n_tables})")
        eb = axis_bucket_df(embeddings, n_bits, n_tables).withColumnRenamed("vec_id", "neighbor_id")
        qb = axis_bucket_df(queries, n_bits, n_tables).withColumnRenamed("vec_id", "query_id")
    else:
        eb = lsh_bucket_df(embeddings, dim, n_bits, seed, n_tables).withColumnRenamed(
            "vec_id", "neighbor_id"
        )
        qb = lsh_bucket_df(queries, dim, n_bits, seed, n_tables).withColumnRenamed(
            "vec_id", "query_id"
        )
    cand = (
        eb.join(F.broadcast(qb), ["table_id", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    e = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ev"),
        vec_norm(F.col("embedding")).alias("nev"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        vec_norm(F.col("embedding")).alias("nqv"),
    )
    pairs = cand.join(e, "neighbor_id").join(F.broadcast(q), "query_id")
    sim = pairs.select(
        "query_id",
        "neighbor_id",
        _cos_pre(
            _dot(F.col("qv"), F.col("ev")), F.col("nqv"), F.col("nev")
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos"), 6).desc(), F.col("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.3,
    mode: str = "exact",
    k: int = 5,
    n_blocks: int = 8,
    dim: int | None = None,
    n_bits: int = 6,
    n_tables: int = 8,
    seed: int = 13,
    planes: str = "random",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b, cosine)
    with vec_a < vec_b and round(cosine,4) >= threshold.

    mode="exact" — the oracle-gate path: distributed block-pair
    knn_self_join, pairs drawn from each vector's exact top-k
    neighborhood. Inherently O(N²·d) flops (no sublinear method is
    exact at arbitrary thresholds); the block shape spreads them over
    n_blocks² bounded tasks with no driver collect.

    mode="approx" — the 100 TB path: multi-table hyperplane LSH.
    Candidates = same sign-bit bucket in ANY of n_tables tables (a
    self equi-join on (table_id, bucket) — no broadcast, no top-k
    cap), then exact-cosine re-rank, so precision is 1.0 and only
    recall is approximate. Per-pair retention is
    1-(1-p^n_bits)^n_tables with p = 1-acos(cosine)/π; at the
    defaults (6 bits × 8 tables) the retention of a pair sitting
    EXACTLY at the threshold — the worst case; pairs above it retain
    more — is:

        threshold   0.5    0.7    0.8    0.85   0.9    0.95
        retention   0.52   0.78   0.90   0.95   0.98   1.00

    Measured corpus recall (planted-pair pytest,
    test_embedding_near_dup_approx_recall): 1.00 at threshold 0.9
    (near-copies, cosine≈0.99) and 0.977 at threshold 0.8 (pairs
    spread 0.74–0.91) — corpus recall beats the boundary-pair bound
    because real near-dup cosines cluster above the threshold. Below
    ~0.7 the curve collapses (~31% per-pair at 0.3), which is exactly
    why the gate corpus (qualifying pairs at cosine≈0.30) stays on
    exact; raise n_tables to push the knee left at linear cost.

    Crossover: exact costs N²·d mults sheared into n_blocks² tasks;
    approx costs ~N·n_tables bucket rows + bucket-local pairs. For a
    true near-dup operating point (threshold ≥ 0.85, where embedding
    copies/near-copies live) switch to approx once N²·d stops fitting
    the cluster's flop budget — roughly N ≳ 10⁶ at d=768.

    planes="axis" uses deterministic axis-aligned hyperplanes (pure
    Catalyst, SQL-expressible — the oracle-checked flavor); "random"
    uses seeded gaussian planes (better spread, pandas-UDF matmul).
    """
    if mode == "exact":
        knn = knn_self_join(embeddings, k=k, n_blocks=n_blocks)
        return knn.where(
            (F.col("cosine") >= threshold) & (F.col("query_id") < F.col("neighbor_id"))
        ).select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            "cosine",
        )
    if mode != "approx":
        raise ValueError(f"mode must be 'exact' or 'approx', got {mode!r}")
    if dim is None:
        raise ValueError("approx mode needs dim")
    if planes == "axis":
        if dim < n_bits * n_tables:
            # same guard as lsh_ann: components past the vector end read
            # NULL (or throw under ANSI), which would silently collapse
            # the out-of-range tables into one all-N bucket — i.e. the
            # quadratic join this mode exists to avoid
            raise ValueError(
                f"axis planes need dim >= n_bits*n_tables ({n_bits * n_tables})"
            )
        buckets = axis_bucket_df(embeddings, n_bits, n_tables)
    else:
        buckets = lsh_bucket_df(embeddings, dim, n_bits, seed, n_tables)
    a = buckets.select(
        F.col("table_id"), F.col("bucket"), F.col("vec_id").alias("vec_a")
    )
    b = buckets.select(
        F.col("table_id"), F.col("bucket"), F.col("vec_id").alias("vec_b")
    )
    cand = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # norm hoisting (vec_norm: exact cosine CSE — bit-identical): one
    # norm per vector on the join inputs instead of two per candidate
    ea = embeddings.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        vec_norm(F.col("embedding")).alias("na"),
    )
    eb = embeddings.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        vec_norm(F.col("embedding")).alias("nb"),
    )
    pairs = cand.join(ea, "vec_a").join(eb, "vec_b")
    return pairs.select(
        "vec_a",
        "vec_b",
        F.round(
            _cos_pre(_dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")), 4
        ).alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def _argmin_assign(sim: DataFrame, out_id: str) -> DataFrame:
    """(out_id, centroid_id, ccos) → nearest centroid per out_id under
    the engine total order (round(ccos,6) DESC, centroid_id ASC), as a
    hash aggregation instead of a sort window."""
    # NULL cosine (zero-norm vector under non-ANSI division) must sort
    # LAST, matching the window's desc_nulls_last — a bare struct min
    # would sort NULL first and pick a degenerate centroid
    nr = F.coalesce(-F.round(F.col("ccos"), 6), F.lit(float("inf")))
    return (
        sim.groupBy(out_id)
        .agg(
            F.min(
                F.struct(nr.alias("nr"), F.col("centroid_id").alias("cid"))
            ).alias("m")
        )
        .select(out_id, F.col("m.cid").alias("centroid_id"))
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    centroid_mod: int = 37,
    iters: int = 2,
) -> DataFrame:
    """Deterministic sampled-Lloyd k-means codebook for ivf_ann.

    Fully declarative and ANSI-SQL-expressible (the oracle unrolls the
    same iterations in DuckDB), following the engine's deterministic
    k-means discipline (operators/table.combine_rectangles_kmeans):
    - seeds: the vectors with id % centroid_mod == 0 (deterministic,
      no RNG; centroid_id keeps the seed's vec_id)
    - fixed `iters` Lloyd rounds: assign every vector to its nearest
      centroid under the engine total order (round(cos,6) DESC,
      centroid_id ASC), then recompute each centroid as the
      element-wise member mean ROUNDED to 6dp (the rounding makes the
      Spark and DuckDB float paths land on identical codebooks);
      empty clusters keep their previous centroid.

    Scale shape: assignment is a broadcast nested loop over N×K (the
    standard IVF training pass); the update is one posexplode +
    groupBy(centroid, dim) partial-agg shuffle of N·dim skinny rows per
    round. At corpus scale, train on a deterministic sample (pass
    embeddings.where(id % sample_mod == 0)) — the codebook quality
    needs only a sample, and the plan is unchanged. Every round cache is
    unpersisted before returning; the codebook is an eager
    localCheckpoint, which Spark's ContextCleaner frees once driver GC
    collects its RDD (every 30 min by default).
    """
    cent = embeddings.where(F.col("vec_id") % centroid_mod == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("cv"),
    )
    round_frames = []
    try:
        return _train_rounds(embeddings, cent, iters, round_frames)
    except BaseException:
        for f in round_frames:
            f.unpersist()
        raise


def _train_rounds(embeddings, cent, iters, round_frames):
    # hoist the vector norm (exact cosine CSE, see vec_norm) and spread
    # to the session's default parallelism: the N·K assignment pass is
    # a broadcast nested loop over the INPUT partitioning, so a
    # one-file parquet scan would run the whole pass on one task
    emb = embeddings.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v"))
    P = embeddings.sparkSession.sparkContext.defaultParallelism
    emb = spread(emb, P, "vid").withColumn("nv", vec_norm(F.col("v")))
    for _ in range(iters):
        # persist-per-round (the measured-fast iterative shape — see
        # duplicate_clusters for why in-loop unpersist is unsafe:
        # non-cascading invalidation discards dependent rounds' built
        # caches); all handles are freed after the final codebook is
        # decoupled below
        cent = cent.persist()
        round_frames.append(cent)
        pairs = emb.crossJoin(
            F.broadcast(cent.withColumn("ncv", vec_norm(F.col("cv"))))
        )
        # argmin as a hash aggregation (same rewrite as ivf_ann's
        # _argmin_assign — N·K rows combine map-side instead of
        # sort-shuffling through a row_number window). The vector does
        # NOT ride in the struct: every partial-agg update would copy
        # the dim-length array (measured 74 s of the sf1 training pass);
        # the winning assignment re-joins its vector by vid instead —
        # one N-row hash join per round, and cid is unique per group so
        # the struct order is unchanged
        assign = (
            pairs.groupBy("vid")
            .agg(
                F.min(
                    F.struct(
                        F.coalesce(
                            -F.round(
                                _cos_pre(
                                    _dot(F.col("v"), F.col("cv")),
                                    F.col("nv"),
                                    F.col("ncv"),
                                ),
                                6,
                            ),
                            F.lit(float("inf")),
                        ).alias("nr"),
                        F.col("centroid_id").alias("cid"),
                    )
                ).alias("m")
            )
            .select("vid", F.col("m.cid").alias("centroid_id"))
            .join(emb.select("vid", "v"), "vid")
        )
        upd = (
            assign.select("centroid_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("new_cv")
            )
        )
        cent = cent.join(upd, "centroid_id", "left").select(
            "centroid_id", F.coalesce("new_cv", "cv").alias("cv")
        )
    # decouple the final K-row codebook, then free every round's cache
    cent = cent.localCheckpoint(eager=True)
    for f in round_frames:
        f.unpersist()
    return cent


def ivf_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    centroids: DataFrame | None = None,
    centroid_mod: int = 37,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors are assigned to
    their nearest centroid (the coarse quantizer's inverted lists);
    each query probes its `nprobe` nearest centroids and exact-cosine
    re-ranks only those lists' vectors.

    The centroid table is broadcast (small by construction); the
    assignment is the standard IVF N·K cosine pass, expressed as a
    broadcast join + window so Catalyst keeps it JVM-side and the
    whole query stays ANSI-SQL-expressible (oracle-checked). When no
    `centroids` frame is given, centroids default to the vectors with
    id % centroid_mod == 0 — a deterministic stand-in for a trained
    k-means codebook (pass a real one at scale; the plan shape is
    identical). All rankings use the engine's total order
    (round(cos,6) DESC, id ASC).

    Output schema matches knn_bruteforce:
    query_id, neighbor_id, cosine (4dp), rank.
    """
    from pyspark.sql import Window

    if centroids is None:
        centroids = embeddings.where(F.col("vec_id") % centroid_mod == 0)
    if set(centroids.columns) >= {"centroid_id", "cv"}:
        # already a codebook frame (train_ivf_centroids output)
        cent = centroids.select("centroid_id", "cv")
    else:
        cent = centroids.select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
        )

    # norm hoisting (vec_norm: exact cosine CSE — bit-identical) plus a
    # spread of the assigned side to the session's default parallelism:
    # the N·K assignment is a broadcast nested loop over the input
    # partitioning, so a single-partition scan would run it on one task
    P = embeddings.sparkSession.sparkContext.defaultParallelism
    cent_n = cent.withColumn("ncv", vec_norm(F.col("cv")))

    def nearest(df: DataFrame, out_id: str, n_keep: int) -> DataFrame:
        src = df.select(F.col("vec_id").alias(out_id), F.col("embedding").alias("v"))
        if n_keep == 1:
            src = spread(src, P, out_id)
        pairs = src.withColumn("nv", vec_norm(F.col("v"))).crossJoin(
            F.broadcast(cent_n)
        )
        sim = pairs.select(
            out_id,
            "centroid_id",
            _cos_pre(
                _dot(F.col("v"), F.col("cv")), F.col("nv"), F.col("ncv")
            ).alias("ccos"),
        )
        if n_keep == 1:
            # argmin under the engine total order as a partial-aggregable
            # min(struct(-round(cos,6), centroid_id)): the N·K rows
            # combine map-side, so only N rows cross the shuffle — the
            # row_number window below would sort-shuffle all N·K
            # (identical winners: struct order = cos desc, id asc, and
            # Spark normalizes -0.0 == 0.0 in comparisons either way)
            return _argmin_assign(sim, out_id)
        w = Window.partitionBy(out_id).orderBy(
            F.round(F.col("ccos"), 6).desc(), F.col("centroid_id")
        )
        return (
            sim.withColumn("crank", F.row_number().over(w))
            .where(F.col("crank") <= n_keep)
            .select(out_id, "centroid_id")
        )

    assign = nearest(embeddings, "neighbor_id", 1)
    probes = nearest(queries, "query_id", nprobe)
    cand = (
        probes.join(assign, "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    e = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ev"),
        vec_norm(F.col("embedding")).alias("nev"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        vec_norm(F.col("embedding")).alias("nqv"),
    )
    pairs = cand.join(e, "neighbor_id").join(F.broadcast(q), "query_id")
    sim = pairs.select(
        "query_id",
        "neighbor_id",
        _cos_pre(
            _dot(F.col("qv"), F.col("ev")), F.col("nqv"), F.col("nev")
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos"), 6).desc(), F.col("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
