"""Similarity search over embedding columns.

Three tiers, mirroring how ANN actually scales:

- **brute_force_topk** — exact: broadcast the (small) query set against the
  corpus, rank per query. The corpus is never shuffled; cost is one scan.
  This is the baseline and the verifier for the approximate tiers.
- **partitioned_topk (IVF-style)** — the corpus is pre-bucketed by a coarse
  quantizer column (here: an existing cluster/label column; in production:
  k-means cell ids). Queries probe only their own cell(s): partition
  pruning for vectors. Exact within the probed cells.
- **lsh_topk** — random-hyperplane signs (deterministic seeded hyperplanes
  derived from xxhash64) bucket the corpus; queries only compare within
  their bucket. Approximate; recall grows with probes/bands.

All math is JVM-side (functions/vectors.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, norm

#: most query rows the Arrow arm of :func:`brute_force_topk` collects on the
#: driver and broadcasts; a larger query set takes the broadcast-join arm
#: (the bound of plans.llm_vectors.BRUTE_GATE_MAX_VECS)
ARROW_MAX_QUERIES = 20_000


def _integral_id(df: DataFrame, id_col: str) -> bool:
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    return isinstance(
        df.schema[id_col].dataType, (ByteType, ShortType, IntegerType, LongType)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Returns (q_id, n_id, cos, rank),
    rank 1..k, tie-broken by neighbor id so results are total-ordered.

    Physical shape (r13, guide §2.3/§4.2): for integral ids the scoring
    runs in ONE Arrow kernel — the bounded query matrix is broadcast, each
    corpus batch computes the full cosine block as a float64 GEMM and
    emits only its per-query top-k — so the rank window reads
    O(batches x nq x k) rows instead of the nq x N scored cross-product,
    and the per-pair interpreted ``aggregate``/``zip_with`` dot product
    (Catalyst evaluates higher-order functions WITHOUT codegen — the same
    cost cliff ivf.py measured at 12.9 s literal vs 0.47 s Arrow for cell
    assignment) becomes BLAS. Each batch's partial top-k is a superset of
    the global top-k, and ties break (cos desc, n_id asc) in both the
    kernel and the window, so results equal the join path's. Non-integral
    ids, and query sets above :data:`ARROW_MAX_QUERIES` rows, keep the
    broadcast-join path."""
    if _integral_id(corpus, id_col) and _integral_id(queries, id_col):
        out = _brute_force_topk_arrow(corpus, queries, k, id_col, vec_col)
        if out is not None:
            return out
    # norms are precomputed per vector, not per pair: each pair then costs
    # one dot product (one array traversal instead of three)
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("q_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
        norm(vec_col).alias("n_nrm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id",
            # try_divide: zero-norm vectors (empty docs) yield NULL, not an
            # ANSI DIVIDE_BY_ZERO crash; NULLs are filtered below
            F.try_divide(dot("q_vec", "n_vec"), F.col("q_nrm") * F.col("n_nrm")).alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def _brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame | None:
    """Arrow fast path of :func:`brute_force_topk` (see its docstring).
    Semantics replicated exactly: NULL vectors/ids on either side drop
    out (the join path's NULL condition/try_divide behavior), zero-norm
    pairs score NULL and drop, self-pairs are excluded. Collects at most
    ``ARROW_MAX_QUERIES + 1`` query rows and returns None when there are
    more."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = corpus.sparkSession
    rows = (
        queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .filter(F.col("_v").isNotNull() & F.col("_id").isNotNull())
        .orderBy("_id")
        .limit(ARROW_MAX_QUERIES + 1)
        .collect()
    )
    if len(rows) > ARROW_MAX_QUERIES:
        return None
    q_ids = np.asarray([r["_id"] for r in rows], dtype="int64")
    qm = np.asarray([np.asarray(r["_v"], dtype="float64") for r in rows])
    q_nrm = np.sqrt((qm * qm).sum(axis=1)) if len(rows) else np.zeros(0)
    bc = spark.sparkContext.broadcast((q_ids, qm, q_nrm))
    from .cachereg import track_broadcast

    track_broadcast(bc)
    src = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("_v")
    ).filter(F.col("_v").isNotNull() & F.col("n_id").isNotNull())
    schema = StructType(
        [
            StructField("q_id", queries.schema[id_col].dataType),
            StructField("n_id", corpus.schema[id_col].dataType),
            StructField("cos", DoubleType()),
        ]
    )
    kk = int(k)

    def gen(batches):
        import pandas as pd

        ids, Q, qn = bc.value
        nq = len(ids)
        if nq == 0:
            return
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray(
                [np.asarray(x, dtype="float64") for x in pdf["_v"]]
            )
            n_ids = pdf["n_id"].to_numpy()
            vn = np.sqrt((V * V).sum(axis=1))
            dots = Q @ V.T  # (nq, n)
            denom = qn[:, None] * vn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, dots / denom, np.nan)
            out_q, out_n, out_s = [], [], []
            for qi in range(nq):
                row = cos[qi]
                valid = ~np.isnan(row) & (n_ids != ids[qi])
                idx = np.nonzero(valid)[0]
                if len(idx) == 0:
                    continue
                order = idx[np.lexsort((n_ids[idx], -row[idx]))][:kk]
                out_q.extend([ids[qi]] * len(order))
                out_n.extend(n_ids[order])
                out_s.extend(row[order])
            if out_q:
                yield pd.DataFrame({"q_id": out_q, "n_id": out_n, "cos": out_s})

    partial = src.mapInPandas(gen, schema)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def partitioned_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cell_col: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: only corpus rows in the query's cell are scored
    (nprobe=1). With a k-means quantizer this is the classic IVF-Flat
    layout; here any coarse bucketing column works. Exact within the cell.

    Physical shape (r13 probe, NOT adopted): the brute_force_topk Arrow
    GEMM kernel was tried here with an in-kernel cell mask and measured
    consistently SLOWER — +10.4 % at sf0.1 (2/11 paired deltas negative)
    and +10.7 % at sf1 (1/11), benchruns/r13_ab_labelcell_sf{01,1}.json
    — because a full nq x N GEMM wastes (n_cells-1)/n_cells of its
    arithmetic on pairs the cell join prunes for free, and the kernel
    ships every corpus row through Python where the broadcast hash join
    is JVM-only. Unlike brute force (where ALL pairs are scored either
    way), pruned-search operators keep the join shape; the IVF/PQ tiers
    are the scale path for the window-input concern."""
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("q_nrm"),
        F.col(cell_col).alias("cell"),
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(vec_col).alias("n_nrm"),
        F.col(cell_col).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id",
            # try_divide: zero-norm vectors (empty docs) yield NULL, not an
            # ANSI DIVIDE_BY_ZERO crash; NULLs are filtered below
            F.try_divide(dot("q_vec", "n_vec"), F.col("q_nrm") * F.col("n_nrm")).alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


# XXH64 primes (public constants, github.com/Cyan4973/xxHash spec)
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_int(value: int, seed: int) -> int:
    """XXH64 of one 32-bit int — the per-column step of Spark's xxhash64
    over IntegerType (XXH64 spec: 4-byte tail lane + avalanche). Used to
    derive hyperplane coefficients DRIVER-SIDE so the per-row column tree
    is O(n_planes) literal arrays, not dim*n_planes expression nodes."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl64(h, 23) * _P2 + _P3) & _M64
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _plane_coeff(j: int, d: int, seed: int = 42) -> float:
    """Exactly xxhash64(lit(j), lit(d)) % 2001 / 1000.0 as Spark computes it
    (seed 42, columns chained, Java signed remainder) — bit-identical to the
    expression-unrolled derivation this replaced."""
    h = _xxh64_int(d, _xxh64_int(j, seed))
    signed = h - (1 << 64) if h >= (1 << 63) else h
    rem = abs(signed) % 2001
    return (rem if signed >= 0 else -rem) / 1000.0


def hyperplane_signature(vec_col: str, dim: int, n_planes: int = 8) -> F.Column:
    """Deterministic random-hyperplane LSH signature (int bucket id).

    Plane j's d-th coefficient is a pseudo-random value in (-2.001, 2.001)
    derived from xxhash64(j, d) — reproducible across runs with zero stored
    state. Coefficients are precomputed driver-side into ONE array literal
    per plane: at production dims (768-4096) the column tree stays
    O(n_planes) nodes, where the per-dim expression unroll was
    dim*n_planes Catalyst nodes (codegen fallback / analysis blowup).
    """
    import numpy as np

    out = F.lit(0)
    for j in range(n_planes):
        # ndarray lit -> ONE Literal node (a Python list would expand to
        # array(lit, lit, ...): dim nodes again at analysis time)
        coeffs = F.lit(np.asarray([_plane_coeff(j, d) for d in range(dim)], dtype="float64"))
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), coeffs, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only within the query's hyperplane-sign
    bucket. The bucket join replaces the full scan — at 100 TB this prunes
    ~2^-n_planes of the corpus per query (before multi-probe)."""
    sig = hyperplane_signature(vec_col, dim, n_planes)
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("q_nrm"), sig.alias("bucket")
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
        norm(vec_col).alias("n_nrm"), sig.alias("bucket")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id",
            # try_divide: zero-norm vectors (empty docs) yield NULL, not an
            # ANSI DIVIDE_BY_ZERO crash; NULLs are filtered below
            F.try_divide(dot("q_vec", "n_vec"), F.col("q_nrm") * F.col("n_nrm")).alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Hard-negative mining — the contrastive-training data op: per
    query (anchor), the k most-similar corpus vectors whose
    ``group_col`` DIFFERS (same-group rows are potential positives, so
    they are excluded, not ranked). The highest-cosine different-group
    neighbors are exactly the "hard" negatives a triplet/InfoNCE
    sampler wants. Same cost shape as brute_force_topk: broadcast the
    anchor set, scan the corpus once, one per-query window; at scale
    the corpus side prunes through the IVF cell layout first (mine
    within the anchor's probed cells), which only makes the negatives
    easier, never invalid."""
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("q_nrm"),
        F.col(group_col).alias("q_grp"),
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(vec_col).alias("n_nrm"),
        F.col(group_col).alias("n_grp"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("q_id") != F.col("n_id"))
            & ~F.col("q_grp").eqNullSafe(F.col("n_grp")),
        )
        .select(
            "q_id",
            "n_id",
            "n_grp",
            F.try_divide(
                dot("q_vec", "n_vec"), F.col("q_nrm") * F.col("n_nrm")
            ).alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "n_grp", "cos", "rank")
    )
