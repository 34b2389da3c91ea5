"""Similarity search and dedup over embedding columns (array<float>).

Every operator is one skeleton — sketch → candidate join → exact re-rank
→ rank tail — and the family differs only in the sketch:

* brute force (``cosine_topk_bruteforce``, ``near_duplicates_by_embedding``)
  — no sketch: a broadcast or self cross join. Exact, O(|Q|·|C|), guarded;
  the correctness baseline the approximate rungs are recall-tested against.
* random-hyperplane LSH (``cosine_topk_lsh``, ``near_duplicates_lsh``) —
  ``_lsh_keys`` packs n_tables sign sketches into long keys; candidates come
  from an equi-join on the key (self and query-corpus pairs both through
  ``dedup._bucket_pairs``, the text-LSH family's pairing path). Recall < 1
  by construction.
* IVF (``cosine_topk_ivf``) — a spherical k-means coarse quantizer
  (``_lloyd``, the one k-means) trained on a bounded driver sample; the
  key is the cell, and each query probes its n_probe nearest cells.
* SemDeDup (``semantic_dedup``) — coarse-quantizer clusters are the key;
  the verify is a greedy prefix filter within each cluster.
* PQ (``pq_train`` / ``pq_encode`` / ``pq_topk``) — product-quantization
  codes scored by asymmetric distance instead of an exact re-rank.

Exact scores are the JVM ``_cosine_e6`` family (double folds floored to an
int ×10⁶, bit-equal to the SQL oracles), and every top-k ends in one rank
tail (``_rank_tail``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fugue_spark.pipeline.dedup import _bucket_pairs, _materialize_index
from fugue_spark.transform import _map_stream

__all__ = [
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "near_duplicates_by_embedding",
    "near_duplicates_lsh",
    "semantic_dedup",
    "PQCodebook",
    "pq_train",
    "pq_encode",
    "pq_topk",
]

# Above this corpus size the exact all-pairs forms refuse to run unless the
# caller explicitly opts in — a quadratic cross join must never silently
# ship at production scale.
_QUADRATIC_GUARD_ROWS = 100_000
# Brute-force top-k broadcasts its query side and scores it against every
# corpus row; above this many queries the query side is no longer small and
# the cross join is effectively all-pairs.
_BRUTEFORCE_GUARD_QUERIES = 10_000
# Table t of the LSH sketch draws its hyperplanes from seed _PLANE_SEED + t,
# so corpus and query sides (and every run) bucket identically.
_PLANE_SEED = 1000


def _dot(a, b) -> F.Column:
    # cast to double BEFORE multiplying: float32 products then a left fold
    # are not reproducible across engines; double products + left fold are.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _cosine_e6(a, b) -> F.Column:
    """Cosine scaled to int ×10⁶ — floored, so cross-engine float noise in
    the last bits cannot flip a comparison at sane thresholds."""
    cos = _dot(a, b) / (_norm(a) * _norm(b))
    return F.floor(cos * 1000000).cast("long")


def _cosine_e6_prenormed(a, b, na, nb) -> F.Column:
    """`_cosine_e6` with the norms already materialized on the rows (one
    fold per row below the join instead of per pair) — operand values are
    identical, so results are bit-equal to `_cosine_e6`. The e6-floor
    contract lives HERE and in `_cosine_e6` only."""
    return F.floor(_dot(a, b) / (na * nb) * 1000000).cast("long")


def _side(
    df: DataFrame, id_col: str, vec_col: str, ids: str, vecs: str, norms: str, *carry
) -> DataFrame:
    """One side of a pair join: (ids, vecs, *carry, norms). The norm is
    folded here, once per row below the join, instead of once per pair —
    the values feeding the division are bit-identical."""
    return df.select(
        F.col(id_col).alias(ids), F.col(vec_col).alias(vecs), *carry
    ).withColumn(norms, _norm(F.col(vecs)))


def _rank_tail(scored: DataFrame, k: int, score: str, descending: bool = True) -> DataFrame:
    """The top-k tail of every search: rank each query's candidates by
    ``score`` (best first), ties to the lower neighbor_id — one shuffle
    keyed on query_id — and keep rank ≤ k."""
    order = F.col(score).desc() if descending else F.col(score).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, "rank")
    )


def _cosine_topk(cands: DataFrame, k: int) -> DataFrame:
    """Exact re-rank of (query_id, qv, qn, neighbor_id, cv, cn) candidates
    by cosine, then the rank tail. Output: query_id, neighbor_id,
    cosine_e6, rank."""
    scored = cands.withColumn(
        "cosine_e6",
        _cosine_e6_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
    )
    return _rank_tail(scored, k, "cosine_e6")


def _matrix(vecs) -> np.ndarray:
    """A batch of vectors as one float64 (n, d) matrix; (0, 0) when empty."""
    m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    return m if m.ndim == 2 else np.empty((0, 0))


def _unit(m: np.ndarray) -> np.ndarray:
    """Rows scaled to unit length (the 1e-12 floor keeps a zero row zero)."""
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _driver_sample(df: DataFrame, vec_col: str, sample_size: int) -> np.ndarray:
    """The first ``sample_size`` vectors collected to the driver — the
    bounded training set of every learned quantizer, independent of corpus
    size; (0, 0) for an empty frame."""
    return _matrix(r[0] for r in df.select(vec_col).limit(sample_size).collect())


def _lsh_keys(vec: F.Column, n_planes: int, n_tables: int) -> F.Column:
    """Random-hyperplane LSH sketch: ``array<long>`` of n_tables packed keys
    ``tbl·2^p + bucket``, where bit i of a table's bucket is set iff the
    vector's dot with that table's plane i is ≥ 0. One vectorized numpy
    pass per Arrow batch; the planes take their width from the data, so
    every vector is sketched whatever its dimension."""
    pow2 = 2 ** np.arange(n_planes, dtype=np.int64)
    offsets = np.arange(n_tables, dtype=np.int64) << n_planes

    @F.pandas_udf("array<long>")
    def keys(vecs: pd.Series) -> pd.Series:
        m = _matrix(vecs)
        planes = np.stack(
            [
                np.random.default_rng(_PLANE_SEED + t).standard_normal((n_planes, m.shape[1]))
                for t in range(n_tables)
            ]
        )  # (T, p, d)
        bits = np.einsum("nd,tpd->ntp", m, planes) >= 0  # (N, T, p)
        return pd.Series(list((bits @ pow2 + offsets).astype("int64")), dtype=object)

    return keys(vec)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_quadratic: bool = False,
    n_queries: "int | None" = None,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    queries is broadcast (small by assumption); ranking is a row_number
    window per query — one shuffle keyed on query_id. O(|Q|·|C|): refuses
    a large query side (more than _BRUTEFORCE_GUARD_QUERIES rows) unless
    ``allow_quadratic=True``; use cosine_topk_lsh / cosine_topk_ivf there.
    ``n_queries`` is a caller hint that skips the guard's count job when
    |Q| is already known; otherwise the probe stops scanning at the guard
    bound + 1 rows (limit-bounded, not a full count of the query side).
    Output: query_id, neighbor_id, cosine_e6, rank.
    """
    if not allow_quadratic:
        guard = _BRUTEFORCE_GUARD_QUERIES
        nq = n_queries if n_queries is not None else queries.limit(guard + 1).count()
        if nq > guard:
            raise ValueError(
                f"brute-force top-k with >{guard} query vectors is effectively "
                "all-pairs; use cosine_topk_lsh/cosine_topk_ivf or pass "
                "allow_quadratic=True"
            )
    q = _side(queries, id_col, vec_col, "query_id", "qv", "qn")
    c = _side(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
    cands = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    return _cosine_topk(cands, k)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign sketches bucket the corpus
    (n_tables independent tables to boost recall); exact cosine re-ranks
    bucket-mates. Candidates are the cross-frame pairs of the text-LSH
    family's pairing path (``dedup._bucket_pairs`` with ``other``: an
    equi-join on the packed bucket key of :func:`_lsh_keys`, the query
    side broadcast), de-duplicated on ids only; the vectors and norms are
    joined back afterwards (the query side broadcast again), as in
    :func:`near_duplicates_lsh` — no cross join anywhere.
    """

    def bucketed(df: DataFrame) -> DataFrame:
        keys = F.explode(_lsh_keys(F.col(vec_col), n_planes, n_tables)).alias("bk")
        return df.select(F.col(id_col).alias("id"), keys)

    q = _side(queries, id_col, vec_col, "query_id", "qv", "qn")
    c = _side(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
    cands = (
        _bucket_pairs(
            F.broadcast(bucketed(queries)), None, "query_id", "neighbor_id", "bk", bucketed(corpus)
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # corpus first: a corpus too big to broadcast sort-merge joins on a
        # pair shuffle that still carries ids only
        .join(c, on="neighbor_id")
        .join(F.broadcast(q), on="query_id")
    )
    return _cosine_topk(cands, k)


def near_duplicates_by_embedding(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine_e6 ≥ t·10⁶).

    TEST-ONLY exact baseline: the all-pairs self cross join is quadratic in
    the corpus and refuses to run above _QUADRATIC_GUARD_ROWS rows unless
    ``allow_quadratic=True``. The production path is
    :func:`near_duplicates_lsh` (equi-join candidates, same exact verify).
    """
    if not allow_quadratic:
        # limit-probe, not count(): the guard job stops scanning after
        # guard+1 rows instead of reading the whole input to learn it is
        # too big (this API is test-only; the probe keeps even a misuse
        # on a huge table cheap)
        n = df.limit(_QUADRATIC_GUARD_ROWS + 1).count()
        if n > _QUADRATIC_GUARD_ROWS:
            raise ValueError(
                f"all-pairs near-dup on >{_QUADRATIC_GUARD_ROWS} rows is "
                "quadratic; use near_duplicates_lsh or pass "
                "allow_quadratic=True"
            )
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine_e6", _cosine_e6(F.col("va"), F.col("vb")))
        .filter(F.col("cosine_e6") >= int(threshold * 1000000))
        .select("id_a", "id_b", "cosine_e6")
    )


def near_duplicates_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via random-hyperplane LSH candidates + exact verify.

    The scale path: no cross join anywhere. Each vector's n_tables packed
    bucket keys (:func:`_lsh_keys`) are materialized once; candidates come
    from the bucket self-join of the text-LSH family
    (``dedup._bucket_pairs``: ids only, a narrow shuffle); vectors are
    re-fetched by two hash joins before the exact cosine verify — identical
    filter semantics to the all-pairs baseline, so at 100% recall the two
    agree exactly.

    Recall is 1 - (1 - q^p)^T with q = 1 - θ/π per plane: tune p down and
    T up for low thresholds. For the gate corpus at threshold 0.4,
    (p=5, T=64) was validated to reach full recall on sf0.001/0.01/0.1.
    At production thresholds (≥0.8) the defaults (12, 8) are strongly
    sublinear.
    """
    # materialized: both sides of the bucket self-join read the keys, and
    # without it Catalyst re-runs the python sketch once per branch
    keys = _materialize_index(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(_lsh_keys(F.col(vec_col), n_planes, n_tables)).alias("bk"),
        )
    )
    va = _side(df, id_col, vec_col, "id_a", "va", "na")
    vb = _side(df, id_col, vec_col, "id_b", "vb", "nb")
    return (
        _bucket_pairs(keys, None, key="bk")
        .join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn(
            "cosine_e6",
            _cosine_e6_prenormed(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
        )
        .filter(F.col("cosine_e6") >= int(threshold * 1000000))
        .select("id_a", "id_b", "cosine_e6")
    )


def _lloyd(
    mat: "np.ndarray", k: int, iters: int, seed: int = 42, unit: bool = False
) -> "np.ndarray":
    """Lloyd's k-means on a small driver-side matrix: seeded initial
    centroids drawn from the rows, then ``iters`` rounds of nearest-
    centroid assignment and update. ``unit=True`` is spherical k-means for
    unit rows (IVF cells, SemDeDup): a centroid is its members' normalized
    sum, so centroids stay unit and the L2 assignment ranks like cosine; a
    cluster whose members sum to zero keeps its old centroid. Otherwise a
    centroid is its members' mean (PQ subspace codebooks). An empty matrix
    has no centroids."""
    rng = np.random.default_rng(seed)
    cent = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)]
    x2 = (mat * mat).sum(axis=1)[:, None]
    for _ in range(iters if len(cent) else 0):
        # ||x-c||² = ||x||² - 2x·c + ||c||² via one matmul — never the
        # (n, k, d) difference tensor (measured 8x on the PQ train path)
        d2 = x2 - 2.0 * (mat @ cent.T) + (cent * cent).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                v = members.sum(axis=0)
                scale = np.linalg.norm(v) if unit else len(members)
                if scale > 0:
                    cent[c] = v / scale
    return cent


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 64,
    n_probe: int = 8,
    sample_size: int = 20000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer → cluster-bucketed
    candidate join → exact cosine re-rank.

    Scale shape: centroids are trained on a bounded driver-side sample
    (sample_size rows — independent of corpus size) and shipped in the
    cell UDF's closure; corpus assignment is one map-only pass
    (vectorized numpy per Arrow batch); the candidate join is an equi-join
    on cluster id probing n_probe cells, so each query scans
    ~n_probe/n_clusters of the corpus instead of all of it. Recall is
    tunable via n_probe (n_probe = n_clusters ⇒ exact).
    """
    sample = _unit(_driver_sample(corpus, vec_col, sample_size))
    cent = _lloyd(sample, n_clusters, iters=10, seed=seed, unit=True)
    if not len(cent):  # empty corpus: no cell to probe, no candidate
        queries = queries.limit(0)

    @F.pandas_udf("array<int>")
    def nearest_cells(vecs: pd.Series) -> pd.Series:
        # stable sort of -cosine: element 0 is the argmax, ties to the
        # lowest cell — a corpus row's cell is its first probe
        order = np.argsort(-(_unit(_matrix(vecs)) @ cent.T), axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe].astype("int32")), dtype=object)

    cell = nearest_cells(F.col(vec_col))[0].alias("cell")
    c = _side(corpus, id_col, vec_col, "neighbor_id", "cv", "cn", cell)
    q = _side(queries, id_col, vec_col, "query_id", "qv", "qn").select(
        "query_id", "qv", "qn", F.explode(nearest_cells(F.col("qv"))).alias("cell")
    )
    cands = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
    )
    return _cosine_topk(cands, k)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "first-k",
    sample_size: int = 20000,
    seed: int = 42,
    assignment: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column.

    The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication") clusters the
    corpus with a coarse quantizer, then removes near-duplicates WITHIN
    each cluster only — the cluster partitioning is what bounds the
    otherwise-quadratic pair search. Reference has no counterpart
    (beyond-reference training-data operator, same family as
    ``near_duplicates_lsh``).

    Semantics (deterministic, engine-portable): each row is assigned to
    the centroid with the highest e6-floored cosine (ties → lowest
    centroid index); a row SURVIVES iff no lower-``id_col`` row in the
    same cluster has cosine_e6 ≥ floor(threshold·10⁶) — a greedy prefix
    filter (a dropped row can still shadow later rows; cheaper and
    order-stable vs. connected components, which ``near_dup_clusters``
    provides for the transitive variant).

    Centroid modes:

    * ``"first-k"`` — the ``n_clusters`` rows with the smallest ids ARE
      the centroids. Fully deterministic and expressible in plain SQL, so
      the driver's DuckDB oracle value-checks the whole operator
      (gate p45).
    * ``"kmeans"`` — spherical k-means on a bounded driver-side sample
      (``sample_size`` rows, seeded); better cluster balance, same plan
      shape. Pytest-verified (the trained centroids are not
      SQL-reproducible).

    Scale shape (the 100 TB posture): the only driver-side collect is the
    centroid set (k or sample_size rows — independent of corpus size);
    assignment is one map-only pass (JVM expression folds, or one
    vectorized Arrow matmul for large k — see ``assignment``); the
    within-cluster pair probe is a self-EQUI-join on the cluster id (one
    hash shuffle of (id, vec), norms folded once per row below the join),
    and survivors come from one anti-join on the id. No cross join at any
    size — but cluster sizes bound the join fan-out, so ``n_clusters``
    must grow with the corpus (SemDeDup uses ~n/10⁴ clusters at web
    scale; measured on 200k×64-dim: k=64 → 235 s, k=512 → 22.5 s).

    Assignment paths (``assignment``): ``"expr"`` scores the k centroids
    as ONE JVM expression (sequential double folds — bit-exact with the
    SQL oracle; the gate path). The expression tree is k structs wide, so
    ``"auto"`` switches to ``"vectorized"`` above 32 clusters: a numpy
    matmul per Arrow batch with the same e6-floor + first-argmax rule.
    The two agree except when a cosine lands within one double ulp of an
    e6 boundary (matmul vs sequential-fold summation order) — irrelevant
    operationally, but the oracle-gated configuration stays on "expr".

    Returns the surviving rows (all original columns) plus ``cluster``.
    """
    if centroids not in ("first-k", "kmeans"):
        raise ValueError(f"unknown centroids mode {centroids!r}")
    if assignment not in ("auto", "expr", "vectorized"):
        raise ValueError(f"unknown assignment mode {assignment!r}")
    if centroids == "first-k":
        rows = (
            df.select(F.col(id_col), F.col(vec_col))
            .orderBy(F.col(id_col).asc())
            .limit(n_clusters)
            .collect()
        )
        cent = [list(r[1]) for r in rows]
    else:
        sample = _unit(_driver_sample(df, vec_col, sample_size))
        cent = [
            list(map(float, c))
            for c in _lloyd(sample, n_clusters, iters=10, seed=seed, unit=True)
        ]
    if not cent:
        return df.withColumn("cluster", F.lit(0).cast("int")).limit(0)

    if assignment == "auto":
        assignment = "expr" if len(cent) <= 32 else "vectorized"
    if assignment == "expr":
        # argmax(cosine_e6, tie -> lowest centroid index) as ONE JVM
        # expression: array_min over (neg_cosine_e6, index) structs
        # compares lexicographically, so the min struct is the best
        # centroid. Centroids ride the plan as literals (k·d doubles).
        scored = F.array(
            *[
                F.struct(
                    (
                        -_cosine_e6(F.col(vec_col), F.array(*[F.lit(float(x)) for x in c]))
                    ).alias("neg"),
                    F.lit(i).cast("int").alias("cid"),
                )
                for i, c in enumerate(cent)
            ]
        )
        cluster_col = F.array_min(scored)["cid"]
    else:
        cmat = np.array(cent, dtype=np.float64)
        cnorm = np.sqrt((cmat * cmat).sum(axis=1))

        @F.pandas_udf("int")
        def assign_udf(vecs: pd.Series) -> pd.Series:
            m = _matrix(vecs)
            if len(m) == 0:
                return pd.Series([], dtype="int32")
            vn = np.maximum(np.linalg.norm(m, axis=1), 1e-300)
            cos_e6 = np.floor((m @ cmat.T) / (vn[:, None] * cnorm[None, :]) * 1e6)
            # argmax takes the FIRST max — same lowest-index tie rule
            return pd.Series(cos_e6.argmax(axis=1).astype("int32"))

        cluster_col = assign_udf(F.col(vec_col))
    # materialized: both sides of the pair probe and the final anti-join
    # reference the assignment; without it Catalyst re-runs the k-fold
    # scoring once per branch (same fix as near_duplicates_lsh).
    assigned = _materialize_index(df.withColumn("cluster", cluster_col))
    thr_e6 = int(threshold * 1000000)
    # norms factored out BELOW the pair join (one fold per row instead of
    # two per pair — measured 2.5x on the 200k-vector sf10 corpus; values
    # identical, see _cosine_e6_prenormed)
    sides = _side(assigned, id_col, vec_col, "_id", "_v", "_n", "cluster")
    a = sides.select(
        F.col("_id").alias("_id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"), "cluster"
    )
    b = sides.select(
        F.col("_id").alias("_id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"), "cluster"
    )
    shadowed = (
        a.join(b, on="cluster")
        .filter(F.col("_id_a") < F.col("_id_b"))
        .filter(
            _cosine_e6_prenormed(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            )
            >= thr_e6
        )
        .select(F.col("_id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(shadowed, on=id_col, how="left_anti")


class PQCodebook:
    """Product-quantization codebook: m subspace k-means codebooks over a
    normalized embedding space. ``centroids`` is (m, k, dim//m) float64."""

    def __init__(self, centroids: "np.ndarray", dim: int, normalized: bool = True):
        self.centroids = centroids
        self.m = centroids.shape[0]
        self.k = centroids.shape[1]
        self.dim = dim
        self.normalized = normalized

    def to_pandas(self) -> pd.DataFrame:
        """Flat frame (sub, centroid, vec, dim, normalized) — a
        parquet-persistable store. dim/normalized ride as ordinary columns
        (pandas ``.attrs`` would NOT survive a parquet round trip)."""
        rows = [
            (j, c, self.centroids[j, c].tolist(), self.dim, self.normalized)
            for j in range(self.m)
            for c in range(self.k)
        ]
        return pd.DataFrame(rows, columns=["sub", "centroid", "vec", "dim", "normalized"])

    @classmethod
    def from_pandas(
        cls,
        pdf: pd.DataFrame,
        dim: "int | None" = None,
        normalized: "bool | None" = None,
    ) -> "PQCodebook":
        m = int(pdf["sub"].max()) + 1
        k = int(pdf["centroid"].max()) + 1
        sub_dim = len(pdf["vec"].iloc[0])
        cent = np.zeros((m, k, sub_dim))
        for _, r in pdf.iterrows():
            cent[int(r["sub"]), int(r["centroid"])] = np.asarray(r["vec"])
        if dim is None:
            dim = int(pdf["dim"].iloc[0]) if "dim" in pdf.columns else m * sub_dim
        if normalized is None:
            normalized = (
                bool(pdf["normalized"].iloc[0]) if "normalized" in pdf.columns else True
            )
        return cls(cent, dim, normalized)


def pq_train(
    df: DataFrame,
    m: int = 8,
    n_centroids: int = 256,
    sample_size: int = 20000,
    vec_col: str = "embedding",
    seed: int = 42,
) -> PQCodebook:
    """Train PQ codebooks on a bounded driver-side sample (sample_size rows
    — independent of corpus size, the same contract as cosine_topk_ivf).

    Vectors are L2-normalized first, so PQ's L2 distance ranks like
    cosine and PQ results are comparable to the rest of the ANN family.
    ``m`` subspaces × ``n_centroids`` centroids ⇒ codes of m bytes when
    n_centroids ≤ 256 (a 64-dim float32 vector compresses 256 B → 8 B)."""
    sample = _driver_sample(df, vec_col, sample_size)
    if sample.size == 0:
        raise ValueError("pq_train needs a non-empty corpus")
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n_centroids > 256:
        raise ValueError("n_centroids > 256 does not fit byte codes")
    sample = _unit(sample)
    sub = dim // m
    cents = np.stack(
        [
            _lloyd(sample[:, j * sub : (j + 1) * sub], n_centroids, iters=15, seed=seed + j)
            for j in range(m)
        ]
    )
    return PQCodebook(cents, dim)


def pq_encode(
    df: DataFrame,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only vectorized encoding: each vector becomes an m-byte binary
    code (argmin centroid per subspace). The codebook ships in the UDF
    closure (m·k·dim/m doubles — bounded)."""
    cent = codebook.centroids
    m, sub = codebook.m, codebook.dim // codebook.m
    normalized = codebook.normalized

    @F.pandas_udf("binary")
    def encode_udf(vecs: pd.Series) -> pd.Series:
        mat = _matrix(vecs)
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        if normalized:
            mat = _unit(mat)
        codes = np.empty((len(mat), m), dtype=np.uint8)
        for j in range(m):
            x = mat[:, j * sub : (j + 1) * sub]
            cj = cent[j]
            # matmul distance trick: argmin over -2x·c + ||c||² (||x||²
            # is constant per row and cannot change the argmin)
            d2 = (cj * cj).sum(axis=1)[None, :] - 2.0 * (x @ cj.T)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series([c.tobytes() for c in codes])

    return df.select(F.col(id_col), encode_udf(F.col(vec_col)).alias("pq_code"))


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook: PQCodebook,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries_guard: int = 1000,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation over PQ codes.

    The corpus side never touches full vectors: one map-only pass on the
    package's map engine (``transform._map_stream``) scores every (corpus
    code, query) pair from per-query lookup tables (LUT[j][code] =
    ‖query_sub_j − centroid‖², so a code's distance is m table adds — the
    FAISS IVFADC inner loop, here over Arrow batches). Queries (with LUTs:
    |Q|·m·k doubles) ship in the closure — guarded, same posture as
    cosine_topk_bruteforce's broadcast side. Ranking is one window on
    query_id. Output: query_id, neighbor_id, dist_e6, rank (ascending
    distance; on normalized vectors d² = 2 − 2·cos, so the order matches
    the cosine family). Both id columns keep their input types."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("neighbor_id", codes.schema[id_col].dataType),
            T.StructField("dist_e6", T.LongType()),
        ]
    )
    q_rows = queries.select(id_col, vec_col).limit(n_queries_guard + 1).collect()
    if len(q_rows) > n_queries_guard:
        raise ValueError(
            f"pq_topk ships query LUTs in the closure; >{n_queries_guard} "
            "queries needs batching (split the query side)"
        )
    if not q_rows:
        return codes.sparkSession.createDataFrame(
            [], schema.add("rank", T.IntegerType())
        )
    cent = codebook.centroids
    m, sub = codebook.m, codebook.dim // codebook.m
    q_ids = [r[0] for r in q_rows]
    q_mat = _matrix(r[1] for r in q_rows)
    if codebook.normalized:
        q_mat = _unit(q_mat)
    # LUTs: (|Q|, m, k) — squared L2 from each query subvector to each centroid
    luts = np.stack(
        [
            ((q_mat[:, j * sub : (j + 1) * sub][:, None, :] - cent[j][None, :, :]) ** 2).sum(
                axis=2
            )
            for j in range(m)
        ],
        axis=1,
    )

    arrow = to_arrow_schema(schema)
    q_arr = pa.array(q_ids, arrow.field("query_id").type)

    def score(batches, _cursor):
        for t in batches:
            c = np.frombuffer(b"".join(t.column(1).to_pylist()), dtype=np.uint8).reshape(-1, m)
            # dists[q, n] = sum_j LUT[q, j, c[n, j]]
            dists = np.zeros((len(q_ids), len(c)))
            for j in range(m):
                dists += luts[:, j, :][:, c[:, j]]
            for qi in range(len(q_ids)):
                dist_e6 = pa.array(np.floor(dists[qi] * 1e6).astype("int64"))
                yield pa.Table.from_arrays(
                    [pa.repeat(q_arr[qi], len(c)), t.column(0), dist_e6], schema=arrow
                )

    corpus = codes.select(id_col, "pq_code")
    scored = _map_stream(corpus, corpus.columns, "pa", score, schema, schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _rank_tail(scored, k, "dist_e6", descending=False)
