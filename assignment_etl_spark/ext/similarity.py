"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, one shuffle, fine up to ~10^6
candidates per query batch when the candidate side is broadcast. Scale path:
LSH bucketing (random hyperplane signs) so each query only scores its
bucket's candidates — sublinear candidate sets at 100 TB, tunable recall.

Dot products run JVM-side via ``F.zip_with`` + ``F.aggregate`` (no Python).
For very wide vectors a Pandas-UDF/numpy batch variant wins on constant
factors; both are provided and plan-compatible.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _topk_tie_exact(
    sims: np.ndarray, ids: np.ndarray, k: int, *, tie_margin: int = 8
) -> list[np.ndarray]:
    """Shared exact top-k kernel over a scored (nq, nc) matrix: for each
    row, the column indices of the ``k`` best scores, ordered by
    (score desc, id asc) — the module's standard ANN tie rule. Masked
    entries (``-inf``, e.g. self-pairs) are excluded.

    Selection is argpartition with a ``tie_margin`` rim then an exact
    per-row lexsort of the rim — O(nc + take log take) per row instead
    of a full O(nc log nc) sort. The rim alone is NOT exact under mass
    ties: argpartition places *some* take-sized superset of the top-k in
    the rim, but when more than ``tie_margin`` candidates tie exactly at
    the k-th score, which tied members land in the rim follows numpy's
    internal ordering of the (shuffle-order-dependent) input — the
    ascending-id rule would then pick among an arbitrary subset and seed
    edges could vary run to run. Exact-score ties are realistic (exact
    duplicate vectors before dedup ⇒ cos_sim == 1.0 classes), so
    whenever the rim's boundary score also occurs OUTSIDE the rim the
    row widens to the full tie class (every candidate scoring >= the
    boundary) before the lexsort — the result is then provably identical
    to a full sort, independent of input order."""
    nq, nc = sims.shape
    take = min(k + tie_margin, nc)
    if take < nc:
        rim = np.argpartition(-sims, take - 1, axis=1)[:, :take]
        # Widening decision vectorized across rows (ADVICE r10): the
        # boundary-occurs-outside-the-rim check is two matrix compares,
        # so on adversarial inputs where every row ties at the boundary
        # (all-duplicate buckets) the per-row Python loop does no O(nc)
        # counting — only genuinely widened rows pay their flatnonzero.
        rim_s = np.take_along_axis(sims, rim, axis=1)
        boundary = np.where(rim_s > -np.inf, rim_s, np.inf).min(axis=1)
        b = boundary[:, None]
        widen = np.count_nonzero(sims == b, axis=1) > np.count_nonzero(
            rim_s == b, axis=1
        )
    else:
        rim = np.broadcast_to(np.arange(nc), (nq, nc))
        boundary = np.full(nq, -np.inf)
        widen = np.zeros(nq, dtype=bool)
    out: list[np.ndarray] = []
    for i in range(nq):
        if widen[i]:
            cols = np.flatnonzero(sims[i] >= boundary[i])
            s = sims[i, cols]
        else:
            cols = rim[i]
            s = sims[i, cols]
            keep = s > -np.inf
            cols, s = cols[keep], s[keep]
        order = np.lexsort((ids[cols], -s))[:k]
        out.append(cols[order])
    return out


def bucket_topk_scorer(k: int, *, chunk: int = 2048, tie_margin: int = 8):
    """Bucket-local cosine top-k as a cogrouped-``applyInPandas`` scorer
    (sanctioned crossing, COVERAGE.md §2.10) — the scale-safe way to
    score a bucketed candidate join.

    Two designs lose at 10^9 pairs: (a) the expression join — Spark's
    higher-order functions (``zip_with``/``aggregate``) never enter
    codegen, so every pair is an interpreted tree-walk eval (measured
    at sf10: the knn-seed straggler task spent its whole wall in
    ``ZipWith.eval``/``ArrayAggregate.eval``; one build repeat did not
    finish in 55 min); (b) a per-pair Arrow UDF — it ships BOTH vectors
    across Arrow for EVERY pair (~TBs at sf10). Cogrouping on the
    bucket key ships each probe and candidate vector across Arrow
    exactly ONCE, never materializes the pair relation, and scores each
    bucket with chunked BLAS matmuls.

    Returns ``(schema, fn)`` for
    ``probes.groupBy(keys).cogroup(cands.groupBy(keys)).applyInPandas(fn, schema)``.
    Probe side needs columns ``(src, _qv, _qn)``, candidate side
    ``(_cid, _cv, _cn)``. Emits per-probe-row top-``k`` ``(src, dst,
    cos_sim)`` with ties broken by ascending dst (argpartition with a
    ``tie_margin`` safety rim with exact full-tie-class widening at the
    boundary — :func:`_topk_tie_exact` — then a per-row lexsort), self-
    pairs excluded — same selection rule as the expression path's
    window even under >tie_margin-way exact-score ties, so downstream
    global top-k merges are order-compatible and run-deterministic."""
    schema = T.StructType(
        [
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    empty = pd.DataFrame(
        {
            "src": pd.Series(dtype="int64"),
            "dst": pd.Series(dtype="int64"),
            "cos_sim": pd.Series(dtype="float64"),
        }
    )

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return empty
        qids = left["src"].to_numpy()
        qmat = np.stack(left["_qv"].to_numpy()).astype(np.float64, copy=False)
        qn = left["_qn"].to_numpy(dtype=np.float64)
        cids = right["_cid"].to_numpy()
        cmat = np.stack(right["_cv"].to_numpy()).astype(np.float64, copy=False)
        cn = right["_cn"].to_numpy(dtype=np.float64)
        out_src, out_dst, out_cos = [], [], []
        for lo in range(0, len(qids), chunk):
            hi = min(lo + chunk, len(qids))
            sims = (qmat[lo:hi] @ cmat.T) / np.outer(qn[lo:hi], cn)
            sims[qids[lo:hi, None] == cids[None, :]] = -np.inf
            picks = _topk_tie_exact(sims, cids, k, tie_margin=tie_margin)
            for i, sel in enumerate(picks):
                out_src.extend([qids[lo + i]] * len(sel))
                out_dst.extend(cids[sel])
                out_cos.extend(sims[i, sel])
        return pd.DataFrame(
            {
                "src": np.asarray(out_src, dtype="int64"),
                "dst": np.asarray(out_dst, dtype="int64"),
                "cos_sim": np.asarray(out_cos, dtype="float64"),
            }
        )

    return schema, score


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_side: str | None = "queries",
) -> DataFrame:
    """Exact cosine top-k: for each query row, the k nearest candidates.

    Output: (query_id, neighbor_id, cos_sim), k rows per query, excluding
    the self-pair. The QUERY side is broadcast by default — brute force
    runs in the small-trusted-slice-vs-big-corpus regime, so the corpus
    STREAMS and only the query slice replicates (broadcasting an
    sf-proportional candidate table is the OOM-at-scale shape the
    plan-audit broadcast rule exists to catch). Pass
    ``broadcast_side="candidates"`` for the inverted regime (big query
    stream against a small sampled pool), or ``None`` to let Catalyst
    decide.
    """
    if broadcast_side not in (None, "queries", "candidates"):
        raise ValueError(f"broadcast_side: {broadcast_side!r}")
    # norms are hoisted to per-SIDE columns (computed once per input row
    # before the join); only the O(dim) dot fold runs per pair — the
    # inline cosine() would evaluate 3 interpreted folds per pair
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    if broadcast_side == "candidates":
        c = F.broadcast(c)
    elif broadcast_side == "queries":
        q = F.broadcast(q)
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def signbit_cell(vec_col: Column, n_bits: int = 3) -> Column:
    """Deterministic IVF-style coarse cell: the sign bits of the first
    ``n_bits`` components (2^n_bits cells). A training-free,
    engine-independent quantizer — any SQL engine reproduces it from the
    raw components, which makes REDUCED-probe ANN oracle-checkable
    (k-means cells are only checkable at full probe, where the index is
    exact by construction)."""
    out = F.lit(0)
    for i in range(n_bits):
        out = out + F.when(vec_col[i] >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out.cast("int")


def cell_probe_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 3,
) -> DataFrame:
    """Approximate top-k at REDUCED probe: each query scores only the
    candidates in its own sign-bit cell (nprobe=1 of 2^n_bits cells) —
    ~1/2^n_bits of the brute-force work. Plan: equi-join on the cell id
    (well-distributed shuffle key, never a cross product) → cosine →
    windowed top-k, the same scale shape as ivf_topk with a deterministic
    quantizer. Queries whose cell holds < k neighbors return fewer rows —
    the standard ANN recall trade measured in tools/ann_eval.py."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        signbit_cell(F.col(vec_col), n_bits).alias("_cell"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        signbit_cell(F.col(vec_col), n_bits).alias("_cell"),
    )
    scored = (
        q.join(c, on="_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # per-side hoisted norms: one O(dim) fold per PAIR, not three
            (dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cell_multiprobe_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 5,
    hamming: int = 1,
) -> DataFrame:
    """Multi-probe ANN over sign-bit cells: each query probes its own cell
    PLUS every cell within Hamming distance ``hamming`` of it — the
    boundary-recovery trick that lifts reduced-probe recall (a neighbor
    that fell one sign-flip across a cell wall is found without scanning
    the whole corpus). With n_bits=5, hamming=1 each query scans 6 of 32
    cells ≈ 19% of brute-force pairs; tools/ann_eval.py measures the IVF
    analogue at ~10% probe ≥ 0.98 recall@10 on a clustered corpus.

    Scale shape: queries explode ×(1+Σ C(n_bits,≤h)) probe rows (tiny
    side), then the SAME well-distributed cell equi-join as
    cell_probe_topk — never a cross join; dedup is free because probe
    cells are distinct by construction. The quantizer is closed-form, so
    a SQL oracle replays the REDUCED search exactly (gate
    ``cell_multiprobe_topk``)."""
    if hamming not in (0, 1):
        raise ValueError("hamming must be 0 or 1 (probe-set generation)")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        signbit_cell(F.col(vec_col), n_bits).alias("_home"),
    )
    masks = [0] + [1 << i for i in range(n_bits)] if hamming == 1 else [0]
    probe = F.array(*[F.lit(m) for m in masks])
    q = q.select(
        "query_id",
        "_qv",
        "_qn",
        F.explode(
            F.transform(probe, lambda m: F.col("_home").bitwiseXOR(m))
        ).alias("_cell"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        signbit_cell(F.col(vec_col), n_bits).alias("_cell"),
    )
    scored = (
        q.join(c, on="_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------------------------------ LSH path


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature (random hyperplane LSH) packed into a long —
    cosine-similar vectors collide with probability 1 - theta/pi per bit."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(
            F.when(dot(vec_col, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_buckets(
    vec_col: Column, dim: int, *, n_planes: int, n_tables: int, seed: int
) -> Column:
    """Array of (table, bucket) structs — one signature per hash table.
    AND over n_planes bits per table (precision), OR over n_tables tables
    (recall): P(candidate) = 1 - (1 - p^planes)^tables, p = 1 - θ/π."""
    out = []
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + 1000 * t)
        out.append(
            F.struct(
                F.lit(t).alias("table"),
                lsh_signature(vec_col, planes).alias("bucket"),
            )
        )
    return F.array(*out)


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket with
    the query in at least one of n_tables hash tables. The plan is one
    equi-join on (table, bucket) — shuffle on a well-distributed key, never
    a cross product — plus a candidate-pair dedup: the 100 TB shape.
    Tune (n_planes ↑ = smaller buckets/less work, n_tables ↑ = recall).

    ``dim`` is required (ArrayType carries no length): inferring it with a
    ``first()`` would launch a driver-side job per plan build."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        F.explode(
            lsh_buckets(F.col(vec_col), dim, n_planes=n_planes, n_tables=n_tables, seed=seed)
        ).alias("_b"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        F.explode(
            lsh_buckets(F.col(vec_col), dim, n_planes=n_planes, n_tables=n_tables, seed=seed)
        ).alias("_b"),
    )
    scored = (
        q.join(c, on="_b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])  # OR over tables
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------- IVF path


def build_ivf_index(
    candidates: DataFrame,
    *,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 8,
):
    """IVF coarse quantizer: spherical k-means cells over L2-normalized
    vectors (pyspark.ml KMeans — trains on a sample at scale), plus the
    candidate set pre-assigned to cells.

    Returns (assigned_candidates_df, centroids ndarray). At 100 TB the
    assignment is one JVM-side model.transform pass and the assigned table
    is written bucketed by cell id — every later query touches only its
    probed cells' buckets.

    Lifecycle: the returned frame IS the index and is persisted (the
    materialization barrier the plan depends on) — the CALLER owns it
    and releases it with ``caching.release(assigned)`` once done querying
    (or after writing it out as the bucketed table). Rebuilding the
    index in a loop without unpersisting accumulates executor storage.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # HOIST the norm out of the per-element lambda: higher-order
    # functions evaluate INTERPRETED, and a lambda whose body contains
    # the full l2_norm aggregate re-runs that O(dim) fold PER ELEMENT —
    # O(dim²) per row, and worse, Catalyst inlines this projection into
    # every downstream consumer (the probed-cell cosine join evaluated
    # it per (query, candidate) PAIR: jstack showed ~3 ms/row at sf10).
    # As a named column the norm is computed once per row; the division
    # values are bit-identical.
    normed = (
        candidates.select(
            F.col(id_col).alias("_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_nrm", F.nullif(l2_norm(F.col("_v")), F.lit(0.0)))
        .withColumn("_v", F.transform("_v", lambda x: x / F.col("_nrm")))
        .drop("_nrm")
    )
    feats = normed.withColumn("features", array_to_vector("_v"))
    train = feats.sample(fraction=sample_fraction, seed=seed) if sample_fraction else feats
    # recall depends on nprobe more than on centroid polish — a handful of
    # Lloyd iterations is the right train-cost/recall trade (and full-probe
    # correctness is centroid-independent)
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features").fit(train)
    # MATERIALIZE the index (persist here; write bucketed-by-cell at a
    # real deployment — the docstring's contract): without a barrier,
    # Catalyst inlines the whole normalize-and-assign lineage into every
    # downstream probed-cell join, re-evaluating the interpreted O(dim)
    # transforms per (query, candidate) PAIR instead of once per vector.
    # The norm column rides along so ivf_topk's cosine needs only the
    # O(dim) dot fold per pair.
    from assignment_etl_spark.caching import scoped_persist

    assigned = scoped_persist(
        model.transform(feats)
        .select(
            "_id",
            "_v",
            l2_norm(F.col("_v")).alias("_vn"),
            F.col("prediction").alias("_cell"),
        )
    )
    centroids = np.stack(model.clusterCenters())
    return assigned, centroids


def ivf_topk(
    queries: DataFrame,
    assigned_candidates: DataFrame,
    centroids: np.ndarray,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k: score each query only against its ``nprobe``
    nearest IVF cells. Join shape: explode queries to (query, cell) pairs →
    equi-join on cell → cosine → windowed top-k. Recall rises with nprobe
    (nprobe = n_cells ≡ exact search)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    cmat = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("_qv", T.ArrayType(T.DoubleType())),
            T.StructField("_cell", T.IntegerType()),
        ]
    )

    def probe(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qmat = np.stack(pdf["_qv"].to_numpy())
            qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
            sims = qn @ cmat.T  # (nq, n_cells)
            cells = np.argsort(-sims, axis=1)[:, :nprobe]
            out = {
                "query_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                "_qv": [v for v in pdf["_qv"] for _ in range(nprobe)],
                "_cell": cells.ravel().astype("int32"),
            }
            yield pd.DataFrame(out)

    q = (
        queries.select(
            F.col(id_col).alias("vec_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_qv"),
        )
        .mapInPandas(probe, schema=probe_schema)
        # norm hoisted to a per-probe-row column (expression l2_norm, NOT
        # numpy, so the value is the exact left-fold the oracle replays)
        .withColumn("_qn", l2_norm(F.col("_qv")))
    )
    # build_ivf_index ships _vn with the materialized index; compute it
    # here only for hand-built candidate frames (tests, external indexes)
    cand = (
        assigned_candidates
        if "_vn" in assigned_candidates.columns
        else assigned_candidates.withColumn("_vn", l2_norm(F.col("_v")))
    )

    scored = (
        q.join(cand, on="_cell")
        .filter(F.col("query_id") != F.col("_id"))
        .select(
            "query_id",
            F.col("_id").alias("neighbor_id"),
            (dot(F.col("_qv"), F.col("_v")) / (F.col("_qn") * F.col("_vn"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------- numpy batch variant (wide vectors)


def brute_force_topk_pandas(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidates: int = 1_000_000,
) -> DataFrame:
    """Arrow-batched numpy variant: the candidate matrix is shipped to each
    task once (collected — use only when candidates fit in executor memory,
    e.g. an IVF cell or LSH bucket) and each query batch is one BLAS matmul.
    ~10-50× the zip_with path on wide vectors.

    ``max_candidates`` is a hard guard against misuse on a full corpus:
    the collect is bucket-local BY DESIGN, and a 100-TB candidate set
    here would OOM the driver — raise the limit consciously if your
    cells really are bigger."""
    n_cand = candidates.count()
    if n_cand > max_candidates:
        raise ValueError(
            f"brute_force_topk_pandas collects the candidate side "
            f"({n_cand} rows > max_candidates={max_candidates}); this "
            f"operator is for bucket-local scoring (IVF cell / LSH "
            f"bucket) — use brute_force_topk / ivf_topk / lsh_topk for "
            f"full-corpus search, or raise max_candidates deliberately"
        )
    cand = candidates.select(id_col, vec_col).toPandas()
    cand_ids = cand[id_col].to_numpy()
    cmat = np.stack(cand[vec_col].to_numpy())
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )

    def score(batches):
        # same argpartition + tie-exact kernel as bucket_topk_scorer
        # (shared _topk_tie_exact) — the old per-row Python sorted() over
        # all candidates was O(nc log nc) interpreted per query row and
        # degraded on wide buckets; identical tie rule (score desc, id asc)
        for pdf in batches:
            if pdf.empty:
                continue
            qids = pdf[id_col].to_numpy()
            qmat = np.stack(pdf[vec_col].to_numpy())
            qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
            sims = qmat @ cmat.T  # (nq, nc)
            sims[qids[:, None] == cand_ids[None, :]] = -np.inf
            picks = _topk_tie_exact(sims, cand_ids, k)
            out = []
            for i, sel in enumerate(picks):
                for rank, j in enumerate(sel, 1):
                    out.append(
                        (int(qids[i]), int(cand_ids[j]), float(sims[i, j]), rank)
                    )
            yield pd.DataFrame(
                out, columns=["query_id", "neighbor_id", "cos_sim", "rank"]
            )

    return queries.select(id_col, vec_col).mapInPandas(score, schema=schema)


# --------------------------------------------------------------------------
# cluster centroids
# --------------------------------------------------------------------------


def cluster_centroids(
    emb: DataFrame,
    *,
    dim: int,
    vec_col: str = "embedding",
    by: str = "label",
    input_round: int | None = None,
) -> DataFrame:
    """Element-wise mean vector per group: (by, n, centroid array<double>).

    Plan shape: ``dim`` per-index sums inside ONE hash aggregate — no
    posexplode of the data (which would multiply the shuffle by dim and
    plan an Expand), no collect_list (which would move whole vectors into
    aggregation state). Partial aggregation runs map-side, so the shuffle
    carries dim numbers per (partition, group), independent of row count —
    the same state a k-means |E| step keeps. ``dim`` is an explicit param
    for the same reason as everywhere in this module: ArrayType carries no
    length, and a first()-probe would cost a driver job.

    ``input_round``: with None (production), components are summed as raw
    doubles — fastest, but the float addition order perturbs the last ~2
    ulps across partitionings. With an integer scale s, each component is
    rounded to s decimals first and summed EXACTLY as decimals — the
    bit-reproducible path (round-half-away + single final IEEE division
    are engine-portable; a raw float→decimal cast is not, because the two
    engines may disagree on ties at the cast boundary, so the rounding
    must happen in double space first).
    """
    v = F.col(vec_col)
    if input_round is None:
        sums = [F.sum(v[i].cast("double")).alias(f"_s{i}") for i in range(dim)]
        def comp(i: int):
            return F.col(f"_s{i}") / F.col("n")
    else:
        s = input_round
        sums = [
            F.sum(
                F.round(v[i].cast("double"), s).cast(f"decimal(28,{s})")
            ).alias(f"_s{i}")
            for i in range(dim)
        ]
        def comp(i: int):
            return F.col(f"_s{i}").cast("double") / F.col("n")
    agg = emb.groupBy(by).agg(F.count(F.lit(1)).alias("n"), *sums)
    return agg.select(
        by,
        "n",
        F.array(*[comp(i) for i in range(dim)]).alias("centroid"),
    )


def centroids_long(centroids: DataFrame, *, by: str = "label") -> DataFrame:
    """(by, n, pos, value) exploded form of :func:`cluster_centroids` —
    the join-friendly/oracle-friendly layout. Cheap by construction: it
    explodes the AGGREGATED frame (groups × dim rows), never the data."""
    return centroids.select(
        by, "n", F.posexplode("centroid").alias("pos", "value")
    )


def hard_negatives(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    broadcast_side: str | None = "queries",
    round_to: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the ``k`` most-similar candidates with a DIFFERENT label — the
    near-misses that teach an embedding model its decision boundary
    (random negatives are trivially easy; hard negatives carry the
    gradient signal).

    Same plan shape as :func:`brute_force_topk` (query slice broadcast,
    corpus streaming, per-query window top-k with (rounded cos desc,
    id) ties) plus the label-inequality predicate pushed into the join —
    mismatched pairs are never scored. At corpus scale swap the exact
    pool for an IVF/LSH candidate stage (ivf_topk/lsh_topk) and apply
    the same label filter to its bucket join; this exact form is the
    verification baseline, the same exact-vs-approx contract as the
    rest of this module.

    Output: (query_id, query_label, neighbor_id, neighbor_label,
    cos_sim, rank). NULL-labeled rows are excluded from BOTH sides up
    front (a NULL label can neither anchor nor serve as a negative —
    silently vanishing queries would be the failure mode
    require_integral_id exists to prevent elsewhere).
    """
    if broadcast_side not in (None, "queries", "candidates"):
        raise ValueError(f"broadcast_side: {broadcast_side!r}")
    queries = queries.filter(F.col(label_col).isNotNull())
    candidates = candidates.filter(F.col(label_col).isNotNull())
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    if broadcast_side == "candidates":
        c = F.broadcast(c)
    elif broadcast_side == "queries":
        q = F.broadcast(q)
    scored = q.join(
        c,
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("query_label") != F.col("neighbor_label")),
    ).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        F.round(
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
            round_to,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
