"""Relational k-means over embedding columns — Lloyd's algorithm with
a FIXED iteration count, run the way MLlib runs it: one Spark job per
round, the bounded k x dims center matrix kept on the driver between
rounds.

``pyspark.ml``'s KMeans iterates until convergence and its k-means||
init is partition-sensitive, so its output can never be hash-gated.
For the data-curation uses this package needs — cluster-balanced
sampling, SemDeDup-style semantic grouping, per-cluster quota
curation — a SMALL fixed number of Lloyd rounds from deterministic
seed centroids is the right contract:

- assignment is MAP-ONLY: the current centers live as a ``(k, dims)``
  float64 ndarray in the closure of an Arrow-batched argmin-L2²
  kernel — no shuffle, no join, no per-row center payload;
- a round is ONE map-only job: each partition assigns its rows and
  sums them per cell in row order, the <= k per-partition (sum,
  count) rows are collected, and the driver merges them in partition
  order, divides and rounds — the same IEEE operations as Spark's
  partial/final ``round(avg(x), d)``, with no exchange (a Spark
  ``groupBy`` here would add an exchange, and under AQE two more
  jobs, per round); an empty cell keeps its previous center;
- ``n_iter`` rounds = ``n_iter`` Spark jobs at construction time, and
  the returned frame is the single final assignment pass.

Cross-engine exactness: seed centroids are md5-derived literals
(``vector.pq.default_coarse_centroids``), updated means are ROUNDED
(round 6, the ``group_centroids`` recipe the label_centroids gate
already proves stable), and the d2 accumulation is left-to-right from
0.0 per (vector, center) — the DuckDB oracle replays every round
relationally and the final assignment hash-matches
(oracles.EMBEDDING_CLUSTERS).

Round-10 optimization (guide §4.2): the argmin used to be a Catalyst
``transform(aggregate(zip_with(...)))`` fold — |rows| x k x dims
INTERPRETED lambda steps per assignment pass (higher-order functions
never enter whole-stage codegen), measured 7.4 s on
``match_line_cluster`` (k=1000, dims=4) and 2.6 s on
``embedding_clusters`` (k=8, dims=64) at sf0.1.  The same arithmetic
as ``dims`` SIMD column ops per Arrow batch (the ``_dot_arrow``
recipe, vector/ann.py) is bit-identical — squared terms accumulate in
the identical dimension order, ``np.argmin`` takes the first minimum
exactly like ``array_position(_d2l, array_min(_d2l))`` — so every
downstream hash gate is unaffected, and the kernel cost scales with
rows x k x dims of actual math instead of interpreter dispatch.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist

# wide enough to quantize any finite double at any sane digit count
_DEC = Context(prec=1000)


def _nearest(vals: np.ndarray, C: np.ndarray):
    """Argmin-L2² cells of an object array of vectors against the
    ``(k, dims)`` centers ``C`` (guide §4.2, the ``_dot_arrow``
    recipe): squared differences accumulate over the ``dims`` axis
    SEQUENTIALLY from 0.0 — the exact operation order of the former
    ``aggregate(zip_with(...), 0.0, acc + x)`` fold and of the DuckDB
    oracle's replay — while vectorizing over rows x centers, and
    ``np.argmin`` resolves ties to the FIRST minimal cell, exactly
    like ``array_position(_d2l, array_min(_d2l))``.  Results are
    bit-identical to the fold; only the interpreter dispatch is gone.

    Returns ``(ok, X, cells)``: the mask of rows that get a cell, their
    float64 matrix, and their cells.  A NULL vector (or one whose
    length differs from ``dims``) gets no cell — the fold produced the
    same: any NULL/missing zip term nulled that center's distance,
    nulling array_min across the board.

    KNOWN DIVERGENCE (r10 ADVICE, documented on purpose): a vector
    containing a true ``NaN`` *value* also gets no cell here (the NaN
    mask below cannot tell a float NaN from an Arrow-converted NULL
    element), whereas the retired fold assigned it cell 0 (Spark SQL
    orders NaN = NaN, so ``array_position`` found the all-NaN minimum
    at position 1).  NULL is the saner answer — a NaN distance is not
    a distance — and no declared query feeds NaN vectors (the oracle
    sweep is hash-green), so the kernel keeps it; the bit-identity
    claim above is for NULL/wrong-length/finite inputs."""
    dims = C.shape[1]
    ok = np.array(
        [v is not None and len(v) == dims for v in vals], dtype=bool
    )
    X = np.zeros((0, dims))
    if ok.any():
        X = np.vstack(vals[ok]).astype(np.float64)
        # NULL vector ELEMENTS arrive as NaN through Arrow
        finite = ~np.isnan(X).any(axis=1)
        ok[ok] = finite
        X = X[finite]
    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(dims):
        t = X[:, d, None] - C[None, :, d]
        acc += t * t
    return ok, X, np.argmin(acc, axis=1).astype(np.int32)


def _assign(vectors_d: DataFrame, centers: np.ndarray) -> DataFrame:
    """Row-local argmin assignment of ``_vv`` against the ``(k, dims)``
    ``centers`` (row i IS cell i), held in the Arrow kernel's closure.
    Adds ``cell`` (NULL where ``_nearest`` gives none) to the input
    columns; no shuffle, no join.

    History: a Catalyst ``transform/zip_with/aggregate`` fold held
    this slot through round 9 (and a per-dimension UNROLLED indexing
    form was tried in round 8 and measured ~2x slower than the fold —
    interpreted GetArrayItem per center per row).  Both lose to the
    Arrow kernel by the interpreter-dispatch factor: the fold runs
    |rows| x k x dims interpreted lambda steps, the kernel runs
    dims x k SIMD column ops per batch (measured 8.5 -> 1.8 s on
    match_line_cluster, 2.6 -> 0.9 s on embedding_clusters, sf0.1).
    The centers ship once per task inside the pickled kernel, not per
    row: only the vector column crosses Arrow."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=np.float64)

    @pandas_udf("int")
    def cell(vv: pd.Series) -> pd.Series:
        ok, _, cells = _nearest(vv.to_numpy(), C)
        out = np.full(len(ok), None, dtype=object)
        out[ok] = cells
        return pd.Series(out)

    # deterministic in value; the flag stops Catalyst duplicating the
    # kernel below pushed filters (the _dot_arrow recipe)
    return vectors_d.withColumn("cell", cell.asNondeterministic()("_vv"))


def _cell_sums(C: np.ndarray):
    """``mapInPandas`` function of one Lloyd round: assign each row of
    the partition to ``C`` and sum the rows per cell IN ROW ORDER from
    0.0 (``np.add.at`` is unbuffered and sequential) — exactly the
    partial ``avg`` buffer Spark's map-side aggregate keeps.  Yields
    one ``(cell, s, n)`` row per non-empty cell of the partition, and
    nothing for a partition without assignable rows."""
    k, dims = C.shape

    def part(batches):
        S = np.zeros((k, dims))
        N = np.zeros(k, dtype=np.int64)
        for b in batches:
            _, X, cells = _nearest(b["_vv"].to_numpy(), C)
            np.add.at(S, cells, X)
            np.add.at(N, cells, 1)
        hit = np.flatnonzero(N)
        if len(hit):
            yield pd.DataFrame(
                {"cell": hit.astype(np.int32), "s": list(S[hit]), "n": N[hit]}
            )

    return part


def _spark_round(x: float, digits: int) -> float:
    """Spark SQL ``round(x, digits)`` of a double: HALF_UP on its
    shortest decimal form (``BigDecimal(x).setScale(digits, HALF_UP)``);
    NaN and infinities pass through, and a zero comes back unsigned."""
    if not np.isfinite(x):
        return x
    q = Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP, context=_DEC
    )
    return float(q) + 0.0


def _lloyd_rounds(
    vd: DataFrame, C: np.ndarray, n_iter: int, digits: int
) -> np.ndarray:
    """Run ``n_iter`` Lloyd rounds of ``vd``'s ``_vv`` vectors from the
    centers ``C``, one collected job each; returns the final centers.
    Each round merges its per-partition partials in partition order
    from 0.0, divides sum by count and rounds — Spark's final ``avg``
    and ``round(_, digits)`` — and an empty cell keeps its center."""
    for _ in range(n_iter):
        parts = (
            vd.select("_vv")
            .mapInPandas(_cell_sums(C), "cell int, s array<double>, n bigint")
            .collect()
        )
        S = np.zeros_like(C)
        N = np.zeros(len(C), dtype=np.int64)
        for r in parts:
            S[r.cell] += r.s
            N[r.cell] += r.n
        C = C.copy()
        for c in np.flatnonzero(N):
            C[c] = [_spark_round(m, digits) for m in S[c] / N[c]]
    return C


def kmeans_assign(
    vectors: DataFrame,
    centroids: list,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Deterministic k-means assignment: run ``n_iter`` Lloyd rounds
    (assign to current centers, recompute each cell's mean rounded to
    ``round_digits``) from the given seed ``centroids`` (a list of
    vectors, e.g. ``vector.pq.default_coarse_centroids()``), then
    return the assignment to the FINAL centers.

    Output: ``(<id_col>, cell)`` — one row per input vector.

    A cell that loses all members keeps its previous center (standard
    Lloyd handling, and what keeps cell ids stable for the oracle).

    Scale shape: each round is ONE map-only Spark job whose result is
    at most k (cell, sum, count) rows per input partition, so
    construction launches exactly ``n_iter`` jobs and no exchange; the
    returned plan is one map-only assignment pass with the final
    centers in the kernel's closure.  ``n_iter`` is a fixed round
    count, not a convergence loop — curation pipelines want few-round
    determinism, not convergence (``pyspark.ml.KMeans`` remains the
    quality path when a trained, non-gateable clustering is
    acceptable).
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    C = np.array(centroids, dtype=np.float64)
    # the assignment input is consumed n_iter+1 times (once per Lloyd
    # round's job, and once more by the returned assignment) — persist
    # the PROJECTED (id, vector) table so the passes re-scan a cached
    # projection instead of re-running the upstream lineage per pass
    # (guide §5; MLlib's own KMeans caches its input for exactly this
    # reason).  For match_line_cluster the upstream is the
    # 4-join/2-window descriptor build: persisting it here measured
    # 8.5 -> 1.8 s at sf0.1.  n_iter=0 keeps the single-pass plan
    # unpersisted.
    vd = vectors.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "_vv"
        ),
    )
    if n_iter > 0:
        vd = tracked_persist(vd)
    C = _lloyd_rounds(vd, C, n_iter, int(round_digits))
    return _assign(vd, C).select(F.col("id").alias(id_col), "cell")
