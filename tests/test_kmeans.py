"""Deterministic relational k-means (vector/kmeans.py kmeans_assign).

The hash gate (oracles.EMBEDDING_CLUSTERS) pins exact cross-engine
agreement; these tests pin the SEMANTICS the gate alone can't express:
the rounds genuinely move assignments (else the oracle degenerates to
the seed argmin), clustering quality improves against the fixture's
planted labels, empty cells carry their centers, each Lloyd round is
one Spark job and the returned plan is one assignment pass, and the
results equal the retired lazily-chained cascade's.
"""

import pytest

from pyspark.sql import functions as F

from gpd_lite_toolbox_spark import fixtures as FX
from gpd_lite_toolbox_spark.vector.kmeans import kmeans_assign
from gpd_lite_toolbox_spark.vector.pq import default_coarse_centroids


def _wcss(vecs: dict, assign: dict) -> float:
    """k-means objective with each cluster's OWN mean — the quantity
    Lloyd monotonically non-increases."""
    import numpy as np

    by_cell: dict = {}
    for vid, cell in assign.items():
        by_cell.setdefault(cell, []).append(vecs[vid])
    total = 0.0
    for members in by_cell.values():
        X = np.asarray(members, dtype=np.float64)
        total += float(((X - X.mean(axis=0)) ** 2).sum())
    return total


def test_kmeans_rounds_move_assignments_and_cut_objective(spark, sf_dir):
    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.select("vec_id", "embedding").collect()
    }
    seed = default_coarse_centroids()
    a0 = {
        r.vec_id: r.cell
        for r in kmeans_assign(emb, seed, n_iter=0).collect()
    }
    a2 = {
        r.vec_id: r.cell
        for r in kmeans_assign(emb, seed, n_iter=2).collect()
    }
    assert set(a0) == set(vecs) and len(a0) > 0
    moved = sum(1 for k in a0 if a0[k] != a2[k])
    # the hash gate would pass even if the rounds were a no-op; this
    # is the fixture-expresses-failure check (r4's recurring lesson)
    assert moved > 0, "2 Lloyd rounds changed nothing: gate degenerate"
    # Lloyd monotonicity: the within-cluster sum of squares must not
    # increase (tiny slack for the 6dp center rounding)
    j0, j2 = _wcss(vecs, a0), _wcss(vecs, a2)
    assert j2 <= j0 * (1 + 1e-9), f"objective rose: {j0} -> {j2}"
    assert j2 < j0, "objective unchanged despite moved assignments"


def test_kmeans_empty_cells_keep_seed_centers(spark):
    # all points near seed centroid 0: every other cell goes empty and
    # must carry its seed center instead of dying or going NULL
    seed = default_coarse_centroids()
    pts = spark.createDataFrame(
        [(i, [float(x) + 0.001 * i for x in seed[0]]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    )
    out = kmeans_assign(pts, seed, n_iter=3).collect()
    assert len(out) == 6
    assert {r.cell for r in out} == {0}


def test_kmeans_empty_input_and_bad_n_iter(spark):
    seed = default_coarse_centroids()
    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>"
    )
    assert kmeans_assign(empty, seed, n_iter=2).count() == 0
    with pytest.raises(ValueError, match="n_iter"):
        kmeans_assign(empty, seed, n_iter=-1)


def test_kmeans_rounds_are_one_job_each_and_plan_is_one_pass(
    spark, sf_dir
):
    """Each Lloyd round is ONE map-only Spark job launched while the
    frame is constructed (the collect of the round's per-partition
    cell sums), and the returned plan is the single final assignment
    pass: one Arrow kernel over the cached input, with no aggregate,
    exchange or center join left in it."""
    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    sc = spark.sparkContext
    st = sc.statusTracker()

    def jobs_launched(n_iter):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = set(st.getJobIdsForGroup(None))
        df = kmeans_assign(emb, default_coarse_centroids(), n_iter=n_iter)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, len(set(st.getJobIdsForGroup(None)) - before)

    for n_iter in (0, 1, 2, 3):
        df, n_jobs = jobs_launched(n_iter)
        assert n_jobs == n_iter, (n_iter, n_jobs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    for node in (
        "BatchEvalPython",
        "HashAggregate",
        "Exchange",
        "BroadcastNestedLoopJoin",
    ):
        assert node not in plan, node


def test_kmeans_assignments_identical_under_aqe_toggle(spark, sf_dir):
    """r5 verdict ask #7: the one-row centers crossJoin is exactly the
    shape AQE likes to re-plan (broadcast conversion, coalesced
    exchanges), so pin that flipping spark.sql.adaptive.enabled does
    NOT move a single assignment — the md5-seeded, rounded-mean
    recipe must be plan-invariant, not just partition-stable."""
    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    seed = default_coarse_centroids()
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    results = {}
    try:
        for mode in ("true", "false"):
            spark.conf.set(key, mode)
            results[mode] = {
                r.vec_id: r.cell
                for r in kmeans_assign(emb, seed, n_iter=2).collect()
            }
    finally:
        spark.conf.set(key, prev)
    assert results["true"] == results["false"]
    assert len(results["true"]) == emb.count()


def test_arrow_argmin_kernel_matches_retired_catalyst_fold(spark):
    """Round-10 optimization pin: the Arrow argmin kernel must be
    BIT-IDENTICAL to the Catalyst transform/zip_with/aggregate fold it
    replaced — same sequential accumulation order, same first-min tie
    rule, NULL vector / NULL element -> NULL cell.  The retired fold
    is reconstructed here verbatim and both run over adversarial
    vectors: exact ties (equidistant centers), near-ties in the last
    ulp, NULLs, and a wrong-length vector."""
    import math

    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.kmeans import kmeans_assign

    seed = [[0.0, 0.0], [1.0, 1.0], [2.0, 0.0], [0.1, 0.9]]
    rows = [
        (0, [1.0, 0.0]),        # exactly equidistant to cells 0, 1, 2
        (1, [1.5, 0.5]),        # equidistant to cells 1 and 2
        (2, [0.0, 0.0]),        # exact center hit
        (3, [1e-16, -1e-16]),   # last-ulp near-tie
        (4, None),              # NULL vector -> NULL cell
        (5, [0.3, None]),       # NULL element -> NULL cell
        (6, [0.1]),             # wrong length -> NULL cell
        (7, [123456.789, -98765.4321]),
        (8, [0.55, 0.45]),
        (9, [2.0, 0.0]),
    ] + [
        (100 + i, [math.sin(i * 0.7) * 3, math.cos(i * 1.3) * 3])
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    got = {
        r.vec_id: r.cell
        for r in kmeans_assign(df, seed, n_iter=0).collect()
    }
    # the retired fold, verbatim (kmeans.py <= round 9 _assign)
    ctr = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(seed)],
        "cell int, cv array<double>",
    ).agg(
        F.sort_array(F.collect_list(F.struct("cell", "cv"))).alias("_ctr")
    )
    d2l = F.expr(
        "transform(_ctr, c -> aggregate("
        "zip_with(_vv, c.cv, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (acc, x) -> acc + x))"
    )
    want = {
        r.vec_id: r.cell
        for r in df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "_vv"
            ),
        )
        .crossJoin(F.broadcast(ctr))
        .withColumn("_d2l", d2l)
        .withColumn(
            "cell",
            F.expr(
                "CAST(array_position(_d2l, array_min(_d2l)) - 1 AS INT)"
            ),
        )
        .collect()
    }
    assert got == want
    assert got[4] is None and got[5] is None and got[6] is None
    assert got[0] == 0 and got[1] == 1  # first-min tie rule
    assert got[2] == 0 and got[9] == 2  # exact center hits


def test_kmeans_null_vectors_survive_lloyd_rounds(spark):
    """r10 ADVICE (medium): with n_iter >= 1 a NULL / wrong-length /
    NULL-element vector used to crash the mean-pack with
    [NULL_MAP_KEY] — the kernel assigns those rows a NULL cell, the
    NULL-cell group survived the means groupBy, and map_from_entries
    rejects a NULL key.  The fix filters NULL cells before the pack,
    which is exactly the retired centers-LEFT-JOIN-means semantics
    (the NULL-cell row matched no center).  Pin: the job completes,
    clean rows cluster as if the dirty rows were absent from the
    center updates, dirty rows keep NULL cells."""
    from gpd_lite_toolbox_spark.vector.kmeans import kmeans_assign

    seed = [[0.0, 0.0], [10.0, 10.0]]
    clean = [
        (0, [0.5, 0.1]),
        (1, [-0.2, 0.3]),
        (2, [9.5, 10.2]),
        (3, [10.4, 9.8]),
    ]
    dirty = [
        (100, None),          # NULL vector
        (101, [0.3, None]),   # NULL element
        (102, [0.1]),         # wrong length
    ]
    df_all = spark.createDataFrame(
        clean + dirty, "vec_id bigint, embedding array<double>"
    )
    df_clean = spark.createDataFrame(
        clean, "vec_id bigint, embedding array<double>"
    )
    for n_iter in (1, 2):
        got = {
            r.vec_id: r.cell
            for r in kmeans_assign(df_all, seed, n_iter=n_iter).collect()
        }
        want_clean = {
            r.vec_id: r.cell
            for r in kmeans_assign(df_clean, seed, n_iter=n_iter).collect()
        }
        assert got[100] is None and got[101] is None and got[102] is None
        assert {k: got[k] for k in want_clean} == want_clean


def _retired_cascade(vectors, centroids, n_iter, id_col, vec_col):
    """The lazily-chained Lloyd cascade ``kmeans_assign`` ran before
    its rounds became one collected job each, rebuilt verbatim: the
    centers ride as a one-row flat ``_ctr`` array broadcast-crossJoined
    onto every row, each round's ``dims`` rounded means are packed into
    a one-row ``map_from_entries`` map, and empty cells carry their
    previous center through an element-wise ``zip_with``/``coalesce``.
    Returns the assignment and the final one-row ``_ctr`` frame."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    from gpd_lite_toolbox_spark.cache import tracked_persist

    dims = len(centroids[0])
    k = len(centroids)

    @pandas_udf("int")
    def cell(vv: pd.Series, ctr: pd.Series) -> pd.Series:
        if len(vv) == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        C = np.asarray(ctr.iloc[0], dtype=np.float64).reshape(-1, dims)
        vals = vv.to_numpy()
        ok = np.array(
            [v is not None and len(v) == dims for v in vals], dtype=bool
        )
        out = np.full(len(vals), None, dtype=object)
        if ok.any():
            X = np.vstack(vals[ok]).astype(np.float64)
            ok[ok] = ~np.isnan(X).any(axis=1)
            X = X[~np.isnan(X).any(axis=1)]
        if ok.any():
            acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
            for d in range(dims):
                t = X[:, d, None] - C[None, :, d]
                acc += t * t
            out[ok] = np.argmin(acc, axis=1).astype(np.int32)
        return pd.Series(out)

    kernel = cell.asNondeterministic()

    def assign(vd, ctr_one_row):
        return (
            vd.crossJoin(F.broadcast(ctr_one_row))
            .withColumn("cell", kernel("_vv", "_ctr"))
            .drop("_ctr")
        )

    spark = vectors.sparkSession
    ctr = spark.createDataFrame(
        [([float(x) for c in centroids for x in c],)],
        "_ctr array<double>",
    )
    vd = vectors.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "_vv"
        ),
    )
    if n_iter > 0:
        vd = tracked_persist(vd)
    nulls = F.array(*[F.lit(None).cast("double")] * dims)
    for _ in range(n_iter):
        means = assign(vd, ctr).groupBy("cell").agg(
            *[
                F.expr(f"round(avg(_vv[{d}]), 6)").alias(f"_m{d}")
                for d in range(dims)
            ]
        )
        mm = means.filter(F.col("cell").isNotNull()).agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("cell"),
                        F.array(*[F.col(f"_m{d}") for d in range(dims)]),
                    )
                )
            ).alias("_mm")
        )
        ctr = mm.crossJoin(F.broadcast(ctr)).select(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k - 1)),
                    lambda i: F.zip_with(
                        F.coalesce(F.col("_mm")[i], nulls),
                        F.slice("_ctr", i * dims + 1, dims),
                        lambda m, p: F.coalesce(m, p),
                    ),
                )
            ).alias("_ctr")
        )
    return assign(vd, ctr).select(F.col("id").alias(id_col), "cell"), ctr


def _parity_case(name):
    """(rows, seed centers) of one retired-cascade parity input."""
    import math
    import random

    rnd = random.Random(17)
    if name == "ties":
        # exact ties to several centers (first minimum wins), exact
        # center hits, and a mirror-symmetric cloud that keeps
        # producing ties as the centers move
        seed = [[0.0, 0.0], [1.0, 1.0], [2.0, 0.0], [0.1, 0.9], [-1.0, 0.0]]
        pts = [[1.0, 0.0], [1.5, 0.5], [0.0, 0.0], [2.0, 0.0], [0.5, 0.5]]
        pts += [[s * x, y] for x in (0.5, 1.0, 1.5) for y in (-1.0, 1.0)
                for s in (1.0, -1.0)]
        pts += [[math.sin(i * 0.7) * 3, math.cos(i * 1.3) * 3]
                for i in range(40)]
        return list(enumerate(pts)), seed
    if name == "empty_cells":
        # points along a strip and centers among them: one cell holds
        # members after a round and loses them all by the third, and
        # a far-away center is empty from the start
        r = random.Random(256)
        pts = [[r.uniform(0, 10), r.uniform(0, 1)] for _ in range(30)]
        seed = [[r.uniform(0, 10), r.uniform(0, 1)] for _ in range(6)]
        return list(enumerate(pts)), seed + [[50.0, 50.0]]
    if name == "dirty":
        # NULL vector, NULL element, wrong length and NaN value get no
        # cell and take no part in any mean
        seed = [[0.0, 0.0], [10.0, 10.0], [0.0, 10.0]]
        rows = [(i, [rnd.uniform(-1, 11), rnd.uniform(-1, 11)])
                for i in range(40)]
        rows += [(100, None), (101, [0.3, None]), (102, [0.1]),
                 (103, [float("nan"), 1.0]), (104, [1.0, 2.0, 3.0])]
        return rows, seed
    assert name == "line_cluster"
    # the match_line_cluster shape: k ~ 1000 side-A descriptors
    # (cx, cy, length, bearing) rounded to 6 decimals seed the cells,
    # and side B is A perturbed; means of 6-decimal values often fall
    # exactly on a half-way 7th decimal
    a = [[round(rnd.uniform(0, 1e5), 6), round(rnd.uniform(0, 1e5), 6),
          round(rnd.uniform(1, 500), 6), round(rnd.uniform(0, 360), 6)]
         for _ in range(1000)]
    b = [[round(v + rnd.choice((-1, 1)) * rnd.uniform(0, 2e3), 6)
          for v in r] for r in a[:600]]
    rows = [(2 * i, v) for i, v in enumerate(a)]
    rows += [(2 * i + 1, v) for i, v in enumerate(b)]
    return rows, a


@pytest.mark.parametrize(
    "case", ["ties", "empty_cells", "dirty", "line_cluster"]
)
def test_kmeans_matches_retired_lazy_cascade(spark, case):
    """The collected-rounds Lloyd loop returns the SAME assignment as
    the lazily-chained cascade it replaced, round count by round
    count, from bit-identical final centers: per-partition row-order
    sums merged on the driver and rounded there are Spark's own
    ``round(avg(x), 6)``."""
    import numpy as np

    from gpd_lite_toolbox_spark.vector.kmeans import _lloyd_rounds

    rows, seed = _parity_case(case)
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    vd = df.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("_vv")
    )
    cells = {}
    for n_iter in (1, 2, 3):
        got = {
            r.vec_id: r.cell
            for r in kmeans_assign(df, seed, n_iter=n_iter).collect()
        }
        old, old_ctr = _retired_cascade(
            df, seed, n_iter, "vec_id", "embedding"
        )
        # cached so the cascade runs once for both of its outputs
        want_c = np.array(old_ctr.persist().first()._ctr)
        want = {r.vec_id: r.cell for r in old.collect()}
        old_ctr.unpersist()
        assert got == want, n_iter
        centers = _lloyd_rounds(vd, np.array(seed, dtype=float), n_iter, 6)
        assert np.array_equal(centers, want_c.reshape(len(seed), -1)), n_iter
        cells[n_iter] = set(got.values()) - {None}
    if case == "empty_cells":
        # the fixture expresses the case: a cell populated after one
        # round is empty after three, and the far center never fills
        assert cells[1] - cells[3] and 6 not in cells[1]
    if case == "dirty":
        assert all(got[i] is None for i in (100, 101, 102, 103, 104))


def test_driver_round_is_spark_round(spark):
    """The driver-side rounding of each round's means equals Spark
    SQL's ``round(x, d)`` on doubles, half-way cases included (means
    of 6-decimal values land exactly on a 7th-decimal 5)."""
    import random

    from gpd_lite_toolbox_spark.vector.kmeans import _spark_round

    rnd = random.Random(5)
    vals = [0.0, -0.0, 2.5, -2.5, 1e300, -1e-300, 0.0000005, -0.0000005,
            float("inf"), float("-inf")]
    for _ in range(3000):
        mag = 10.0 ** rnd.randint(-4, 7)
        x, y = (round(rnd.uniform(-mag, mag), 6) for _ in range(2))
        vals += [(x + y) / 2, x + 5e-7, rnd.uniform(-mag, mag)]
    df = spark.createDataFrame(list(enumerate(vals)), "i int, v double")
    for d in (6, 0, -2):
        got = {
            r.i: r.r
            for r in df.select("i", F.round("v", d).alias("r")).collect()
        }
        bad = [
            (v, got[i], _spark_round(v, d))
            for i, v in enumerate(vals)
            if got[i] != _spark_round(v, d)
        ]
        assert not bad, bad[:5]
