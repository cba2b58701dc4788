"""Deduplication at corpus scale: exact, MinHash+LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup.

Scale design notes:
- exact_dedup: one hash-groupBy (map-side partial agg; no Python).
- shingles/minhash: shingling via slice/transform HOFs (no explode of
  tokens through a shuffle); signatures are md5-string minima so the
  whole signature is computed in one groupBy-free select; LSH banding
  turns near-dup search into an equi-join on (band_id, band_hash) —
  the only shuffle, and it is keyed by short hashes (skew-free).
- ngram_jaccard_pairs: exact pairwise Jaccard via a shared-shingle
  equi-join + count ratios; quadratic only within shingle buckets.
- simhash: 64-bit signature packed in a vectorized pandas UDF (bit ops
  aren't expressible as Catalyst columns); Hamming-distance candidate
  pairs via band equi-join on 16-bit chunks.
- embedding near-dup: cosine over float arrays with zip_with/aggregate
  (JVM), self-join pruned by an LSH bucket (similarity.py).

Checkpoints: minhash_candidates, ngram_jaccard_pairs and
simhash_candidates checkpoint lazily; duplicate_clusters checkpoints
every third round and returns an eager localCheckpoint. No caller can
unpersist them: Spark's ContextCleaner frees their blocks once driver
GC collects the RDD, and its periodic GC runs every 30 min by default
(test_session_hygiene).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import spread

__all__ = [
    "exact_dedup",
    "shingle_df",
    "minhash_band_hashes",
    "minhash_candidates",
    "ngram_jaccard_pairs",
    "decontaminate_df",
    "simhash_df",
    "simhash_candidates",
    "duplicate_clusters",
]


def exact_dedup(df: DataFrame) -> DataFrame:
    """Group by content hash; keep min(doc_id) as representative.
    Output: fingerprint, keep_doc_id, n_dups."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    return (
        df.select(F.col("doc_id").cast("string").alias("doc_id"), F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


def shingle_df(df: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sh): distinct word k-shingles via array HOFs (no token
    explode shuffle — shingling happens inside the row)."""
    toks = F.split(F.col("text"), " ")
    # indices 0..size-k (short docs degrade to one whole-text shingle)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.array_distinct(sh)).alias("sh"),
    )


def minhash_band_hashes(
    df: DataFrame,
    n_hashes: int = 8,
    n_bands: int = 2,
    k: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """MinHash signature + LSH band hashes.

    h_i(shingle) = md5(i || '#' || shingle); the per-doc minimum of the
    hex strings is a valid min-hash (lexicographic order on a uniform
    hash family). Band hash = md5 of the band's mins joined in seed
    order. Output: doc_id, band_id, band_hash.

    The doc scan is spread into `parallelism` partitions first (None:
    the session's default parallelism) — the shingle explode and the
    8x md5 pass run BEFORE the first exchange, so a single-file parquet
    scan would execute them on one task (partitioning.spread rationale).
    """
    rows_per_band = n_hashes // n_bands
    df = spread(df, parallelism or df.sparkSession.sparkContext.defaultParallelism, "doc_id")
    sh = shingle_df(df, k)
    seeds = F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("seed")
    hashed = sh.select("doc_id", "sh", seeds).select(
        "doc_id",
        "seed",
        F.md5(F.concat(F.col("seed").cast("string"), F.lit("#"), F.col("sh"))).alias("h"),
    )
    sig = hashed.groupBy("doc_id", "seed").agg(F.min("h").alias("mh"))
    return (
        sig.withColumn("band_id", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                        lambda s: s["mh"],
                    ),
                    "|",
                )
            ).alias("band_hash")
        )
    )


def minhash_candidates(band_hashes: DataFrame) -> DataFrame:
    """LSH candidate pairs: docs sharing any band hash.
    Output: doc_a < doc_b, n_shared_bands.

    The band table is lazily localCheckpoint'ed first: the self-join's
    two sides cannot share an exchange (one side broadcasts), so the
    whole upstream shingle+minhash lineage otherwise executes twice.
    The table is n_docs x n_bands rows of short hashes — tiny at any
    scale — and RDD-level storage is not plan-matched across runs.
    Driver GC frees it (module docstring)."""
    band_hashes = band_hashes.localCheckpoint(eager=False)
    a = band_hashes.alias("a")
    b = band_hashes.alias("b")
    return (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
    parallelism: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.
    Output: doc_a < doc_b, jaccard (rounded 4dp), filtered ≥ threshold.

    Skew guard: shingles appearing in more than `max_df` documents are
    dropped from the corpus before the self-join (standard document-
    frequency cap) — a boilerplate shingle shared by d documents would
    otherwise contribute d² rows to one join key, a single-key skew
    bomb at corpus scale. The drop list is tiny by construction, so it
    is applied as a broadcast anti-join (no extra shuffle of the
    shingle table); Jaccard is then exact over the surviving shingle
    universe. The threshold filters the RAW ratio (rounding happens
    only in the final projection) so the predicate matches the SQL
    oracle's exactly. The shingle table's three consumers (sizes, both
    join sides) share one lazy localCheckpoint per run, which driver
    GC frees (module docstring). The docs are spread like
    minhash_band_hashes'."""
    df = spread(df, parallelism or df.sparkSession.sparkContext.defaultParallelism, "doc_id")
    sh_all = shingle_df(df, k)
    heavy = (
        sh_all.groupBy("sh")
        .agg(F.count("*").alias("df_sh"))
        .where(F.col("df_sh") > max_df)
        .select("sh")
    )
    # not cache(): a Dataset cache here was never unpersisted and
    # silently served later identical plans
    sh = sh_all.join(F.broadcast(heavy), "sh", "left_anti").localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    raw = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .where(raw >= threshold)
        .select("doc_a", "doc_b", F.round(raw, 4).alias("jaccard"))
    )
    return out


_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("simhash", T.LongType()),
    ]
)


def decontaminate_df(
    df: DataFrame,
    bench_mod: int = 23,
    k: int = 8,
    prompt_words: int = 12,
) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene pass: the
    "eval suite" is the first `prompt_words` words of every
    doc_id % bench_mod == 0 document (the verbatim-leak model: eval
    prompts drawn from web text that also lives in the corpus); any
    document sharing a word k-gram with a prompt is flagged. Output
    (doc_id, hit_grams): contaminated docs — the leak sources
    themselves and their near/exact duplicates — with the count of
    distinct colliding grams.

    100 TB shape: benchmark sets are SMALL by nature (an eval suite,
    not a corpus), so their distinct gram set broadcasts and the
    corpus side never shuffles for the join — one map-side broadcast
    semi-join + a partial-aggregated count. Grams join as strings here
    (exact, oracle-matched); at corpus scale you would hash them first
    (xxhash64) to shrink the broadcast, which changes no semantics
    because the count is over distinct grams per document."""
    toks = F.split(F.col("text"), " ")
    bench_txt = df.where(
        (F.col("doc_id").cast("bigint") % bench_mod) == 0
    ).select(
        "doc_id",
        F.array_join(F.slice(toks, 1, prompt_words), " ").alias("text"),
    )
    bench = shingle_df(bench_txt, k).select("sh").distinct()
    df = spread(df, df.sparkSession.sparkContext.defaultParallelism, "doc_id")
    corpus = shingle_df(df, k)
    return (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hit_grams"))
    )


def _simhash_batch(doc_ids: pd.Series, texts: pd.Series) -> pd.DataFrame:
    """Vectorized 64-bit SimHash over an Arrow batch.

    h(token) = first 8 bytes of md5, big-endian; signature bit b is set
    iff more than half the token occurrences have bit b set (weighted
    majority vote, weight = occurrence count).

    Vectorization: tokens of the whole batch are factorized so each
    unique token is hashed once; bit unpacking, the per-document vote
    (np.add.reduceat over the row-contiguous token matrix), and the
    bit packing are all single numpy expressions — no per-token Python
    in the common path (the round-1 version looped per token per row).
    """
    import hashlib
    import itertools

    tok_lists = [(t or "").split(" ") for t in texts]
    lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
    flat = np.array(list(itertools.chain.from_iterable(tok_lists)), dtype=object)
    if len(flat) == 0:
        return pd.DataFrame(
            {"doc_id": doc_ids.astype(str), "simhash": np.zeros(len(texts), np.int64)}
        )
    codes, uniques = pd.factorize(flat)
    h_u = np.fromiter(
        (int.from_bytes(hashlib.md5(u.encode("utf-8")).digest()[:8], "big") for u in uniques),
        dtype=np.uint64,
        count=len(uniques),
    )
    bit_pos = np.arange(64, dtype=np.uint64)
    bits_u = ((h_u[None, :] >> bit_pos[:, None]) & np.uint64(1)).astype(np.int64)  # (64, U)
    D, U, T = len(texts), len(uniques), len(codes)
    if D * U <= max(4 * T, 1 << 20):
        # small-vocabulary fast path: dense (doc, unique-token) count
        # matrix via one bincount, then per-doc bit counts as ONE small
        # matmul — no per-token bit expansion at all
        row_idx = np.repeat(np.arange(D, dtype=np.int64), lens)
        counts = np.bincount(row_idx * U + codes, minlength=D * U).reshape(D, U)
        ones = counts @ bits_u.T  # (D, 64)
        vote_set = (2 * ones) > lens[:, None]
        sig = (vote_set.astype(np.uint64) << bit_pos).sum(axis=1, dtype=np.uint64)
        return pd.DataFrame({"doc_id": doc_ids.astype(str), "simhash": sig.view(np.int64)})
    # general path, TRANSPOSED (64, T) layout: per-document bit counts
    # are a segmented sum along the token axis, computed as cumsum +
    # column picks — cumsum along the contiguous axis is ~40x faster
    # than axis-0 (and than np.add.reduceat, which dominated the first
    # vectorization attempt); the int64 accumulator avoids numpy's slow
    # non-SIMD int32 cumsum path (measured 20x slower)
    tok_bits = bits_u[:, codes].astype(np.int32)  # (64, T), token-contiguous rows
    starts = np.zeros(len(texts), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # every text yields >=1 token ("".split(" ") == [""]), so segments
    # are non-empty and ends are strictly increasing
    csum = np.cumsum(tok_bits, axis=1, dtype=np.int64)  # (64, T)
    ends = starts + lens - 1
    ones = csum[:, ends].copy()  # (64, D)
    ones[:, 1:] -= csum[:, starts[1:] - 1]
    vote_set = (2 * ones) > lens[None, :]
    weights = (np.uint64(1) << bit_pos)[:, None]
    sig = (vote_set.astype(np.uint64) * weights).sum(axis=0, dtype=np.uint64)
    return pd.DataFrame({"doc_id": doc_ids.astype(str), "simhash": sig.view(np.int64)})


def simhash_df(df: DataFrame) -> DataFrame:
    """doc_id, simhash (int64) via an Arrow-batched pandas UDF.

    The input is spread round-robin to the session's default
    parallelism first (partitioning.spread) — a small single-file
    parquet arrives as ONE scan partition, which would leave every
    other worker idle through the UDF stage."""

    def simhash_iter(batches):
        for pdf in batches:
            yield _simhash_batch(pdf["doc_id"], pdf["text"])

    src = df.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    src = spread(src, df.sparkSession.sparkContext.defaultParallelism)
    return src.mapInPandas(simhash_iter, schema=_SIMHASH_SCHEMA)


def simhash_candidates(sim: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates by banded SimHash (4×16-bit chunks → by
    pigeonhole any pair with hamming ≤ 3 shares a chunk) verified with
    an exact popcount. Output: doc_a, doc_b, hamming. Both self-join
    sides read one lazy localCheckpoint of the chunks (4 short rows per
    doc), so the simhash UDF runs once; driver GC frees it (module
    docstring)."""
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    chunks = chunks.localCheckpoint(eager=False)
    pairs = (
        chunks.alias("a")
        .join(chunks.alias("b"), ["chunk_id", "chunk"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return pairs.select("doc_a", "doc_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def duplicate_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup candidate pairs → duplicate
    clusters: (doc_id, cluster_id) with cluster_id = min doc id in the
    component — the canonical representative-selection step after any
    pairwise dedup pass.

    Each round combines one-hop min-label propagation (neighbors'
    labels) with POINTER DOUBLING (label-of-label: every node also
    adopts its current label's label), so convergence is O(log
    component diameter) rounds instead of O(diameter) — a 1000-node
    chain finishes in ~10 rounds (pinned by tests/test_functions.py::
    test_duplicate_clusters_chain_converges_logarithmically).
    Near-dup cliques still finish in one round. Per round: two shuffle
    joins + one count action on the persisted result frame;
    localCheckpoint every few rounds truncates the growing loop
    lineage. Raises RuntimeError if the fixpoint is not reached within
    max_iters — silently returning split clusters would diverge from
    the exact transitive-closure oracle. Every round cache is
    unpersisted before returning; the result is an eager
    localCheckpoint, which driver GC frees (module docstring)."""
    # the edge set joins into EVERY propagation round — persist it once
    # or the (possibly expensive) candidate-pair lineage re-executes per
    # round (measured: minhash banding re-ran each iteration, 5x wall).
    # Both edge directions come from ONE pass via explode — the
    # union(pairs, pairs.swapped) shape embedded the candidate-pair
    # lineage twice in the plan and executed it twice (no exchange
    # reuse across the differing projections; measured ~2.8 s doubled
    # at sf0.1)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst").persist()
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = nodes.withColumn("cluster_id", F.col("doc_id"))
    round_frames: list[DataFrame] = []
    converged = False
    for it in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        one_hop = labels.join(
            nbr_min, labels["doc_id"] == nbr_min["src"], "left"
        ).select(
            labels["doc_id"],
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
            F.col("cluster_id").alias("old_cluster_id"),
        )
        # pointer doubling: a label is always some node's id, so chase
        # it one level (label-of-label) — halves chain depth per round
        lab2 = one_hop.select(
            F.col("doc_id").alias("l_node"), F.col("cluster_id").alias("l_label")
        )
        # labels only decrease (new <= one-hop <= old), so new != old
        # is the complete movement test
        new_labels = (
            one_hop.join(lab2, one_hop["cluster_id"] == lab2["l_node"], "left")
            .select(
                one_hop["doc_id"],
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("l_label"), F.col("cluster_id"))
                ).alias("cluster_id"),
                F.col("old_cluster_id"),
            )
            .select(
                "doc_id",
                "cluster_id",
                (F.col("cluster_id") != F.col("old_cluster_id")).alias("moved"),
            )
        )
        if (it + 1) % 3 == 0:
            # truncate the per-round join lineage (each round otherwise
            # stacks two joins onto the plan; at O(log n) rounds this
            # keeps replanning + potential recovery cost flat)
            new_labels = new_labels.localCheckpoint(eager=False)
        # persist-per-round is the measured-fast shape. Do NOT unpersist
        # round frames inside the loop: round i+1's cached plan contains
        # round i as a subtree, and Spark's non-cascading invalidation
        # responds to unpersisting round i by discarding round i+1's
        # already-built buffers for lazy re-computation (measured 3 s →
        # 30 s); checkpointing EVERY round avoids that but measured
        # ~2-8× slower and flaky. Handles are freed after the loop, once
        # the final frame is decoupled.
        new_labels = new_labels.persist()
        round_frames.append(new_labels)
        changed = new_labels.where(F.col("moved")).count()
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            converged = True
            break
    if not converged:
        for f in round_frames:
            f.unpersist()
        edges.unpersist()
        raise RuntimeError(
            f"duplicate_clusters did not reach the fixpoint in {max_iters} rounds; "
            "component min-label eccentricity exceeds 2^rounds — raise max_iters"
        )
    # decouple the result from the round frames, then free them: the
    # invalidation cascade cannot touch the checkpointed result
    final = labels.localCheckpoint(eager=True)
    for f in round_frames:
        f.unpersist()
    edges.unpersist()
    return final
