"""Line-matching operators (reference core.py:26-131).

``match_lines`` is a bounded-distance nearest-neighbor theta-join under
the reference's "cheap hausdorff" line distance. For equal vertex counts
the reference kernel (``core.py:104-131`` fh_dist_lines, chkl=1 path)
reduces to the max of ALIGNED vertex distances — which lets the whole
operator stay native: bbox-join candidates, an equi-join on vertex index,
one max-aggregate, a rank-1 window. No Python boundary at all.

Scale: candidates are pruned by the bbox join with radius=limit (lossless
for this metric: fh < limit implies expanded-bbox overlap), so the
complexity is candidates-within-limit, not |A|x|B|. The reference is the
full O(n*m) nested apply.

``match_line_cluster`` (core.py:70-101) re-expresses the KMeans blocking
idea with the package's deterministic relational Lloyd
(``vector/kmeans.py``): descriptor vector (centroid x/y, length, bearing
per utils.py:60-74 mparams), k = |gdf1| cells seeded at side A's own
descriptors, rows sharing a cell are matched. The reference's
label-slice bug (both sides read labels_[len(gdf1):], core.py:93-94) is
fixed to the intended semantics, as SURVEY.md documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..geometry.functions import bearing_expr, euclid_expr
from .spatial_join import bbox_join


def _line_bboxes(verts: DataFrame) -> DataFrame:
    return verts.groupBy("id").agg(
        F.min("vx").alias("x0"),
        F.min("vy").alias("y0"),
        F.max("vx").alias("x1"),
        F.max("vy").alias("y1"),
        F.count("*").alias("nv"),
    )


def match_lines(
    verts_a: DataFrame,
    verts_b: DataFrame,
    limit: float,
    cell_size: float | None = None,
) -> DataFrame:
    """For each line of A, the closest line(s) of B by the reference's
    "cheap hausdorff" subsampled-aligned distance, strictly under
    ``limit``; ties kept (reference keeps every argmin, core.py:56).

    Vertex counts may DIFFER per line (core.py:104-131 fh_dist_lines):
    with L = longer count, S = shorter, chkl = round(L/S), vertex i of
    the longer line aligns to vertex i // chkl of the shorter, for
    i < min(L, chkl*S); the distance is the max over aligned pairs.
    Equal counts reduce to chkl=1, the plain aligned-vertex max. Two
    documented deviations from the reference, both bug fixes: the
    longer/shorter normalization is actually applied (core.py:122's
    swap compares len(coord_li2) with itself and never fires), and
    chkl rounds half-UP via floor((2L+S)/(2S)) — cross-engine-stable,
    where Python's round() banker-rounds ties.

    Inputs are vertex tables (id, vidx, vx, vy). Output:
    (id_a, id_b, fh_dist) — fully native: bbox-join candidates (the
    prune is lossless: fh < limit forces expanded-bbox overlap), one
    row-local aligned-index explode per candidate, one (id, vidx)
    equi-join per side, one max-aggregate, a rank-1 window. No Python
    boundary.
    """
    # Round-10 (guide §5): each side is consumed three times — the
    # bbox aggregate plus BOTH index-mapped join branches — and the
    # inputs are typically derived tables (the fixture builds pay a
    # scan + cross-join + two aggregates + a window per evaluation), so
    # persist the projected four columns once per side. The bench's
    # clearCache-per-run discipline means every timed run still pays
    # the one build honestly.
    from ..cache import tracked_persist

    verts_a = tracked_persist(verts_a.select("id", "vidx", "vx", "vy"))
    verts_b = tracked_persist(verts_b.select("id", "vidx", "vx", "vy"))
    ba = _line_bboxes(verts_a)
    bb = _line_bboxes(verts_b)
    if cell_size is None:
        # cell must cover the largest bbox extent, or the cell-explode
        # fan-out degenerates (a bbox spanning k cells produces k copies);
        # one tiny agg bounds fan-out to <= 2 cells per axis per feature.
        row = (
            ba.unionByName(bb)
            .agg(
                F.max(F.col("x1") - F.col("x0")).alias("mx"),
                F.max(F.col("y1") - F.col("y0")).alias("my"),
            )
            .collect()[0]
        )
        cell_size = max(float(limit), float(row.mx or 1.0), float(row.my or 1.0), 1.0)
    cs = float(cell_size)
    big = F.greatest(F.col("na"), F.col("nb"))
    small = F.least(F.col("na"), F.col("nb"))
    cand = (
        bbox_join(ba, bb, cs, tol_left=limit)
        .select(
            F.col("l_id").alias("id_a"),
            F.col("r_id").alias("id_b"),
            F.col("l_nv").alias("na"),
            F.col("r_nv").alias("nb"),
        )
        .withColumn(
            "chkl", F.floor((2 * big + small) / (2.0 * small)).cast("long")
        )
    )
    a = verts_a.select(
        F.col("id").alias("id_a"), F.col("vidx").alias("avidx"),
        F.col("vx").alias("ax"), F.col("vy").alias("ay"),
    )
    b = verts_b.select(
        F.col("id").alias("id_b"), F.col("vidx").alias("bvidx"),
        F.col("vx").alias("bx"), F.col("vy").alias("by"),
    )
    # Round-10 (guide §2.4/§3): the aligned index pairs are generated
    # ROW-LOCALLY per candidate — i drives the longer side, i // chkl
    # the shorter, i < min(L, chkl*S) — replacing the former TWO
    # A-longer/B-longer branches that each fanned out via a join on the
    # line id alone, then post-filtered, then unioned. Same pair
    # multiset by construction (the branch filters reproduced exactly
    # as the two arms of the WHEN); each vertex table now joins ONCE,
    # on its full (id, vidx) key, so the probe is equi-selective
    # instead of id-fan-out + filter, and the candidate table is
    # evaluated once instead of twice. Plan effect at sf0.1: Exchanges
    # 48 -> 26, Generates 16 -> 9 per query (committed plan pair).
    a_longer = F.col("na") >= F.col("nb")
    pairs = cand.select(
        "id_a",
        "id_b",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.least(big, F.col("chkl") * small).cast("long") - 1,
            )
        ).alias("i"),
        a_longer.alias("_al"),
        "chkl",
    ).select(
        "id_a",
        "id_b",
        F.when(F.col("_al"), F.col("i"))
        .otherwise(F.floor(F.col("i") / F.col("chkl")))
        .cast("long")
        .alias("avidx"),
        F.when(F.col("_al"), F.floor(F.col("i") / F.col("chkl")))
        .otherwise(F.col("i"))
        .cast("long")
        .alias("bvidx"),
    )
    d = (
        pairs.join(a, ["id_a", "avidx"])
        .join(b, ["id_b", "bvidx"])
        .groupBy("id_a", "id_b")
        .agg(
            F.max(
                euclid_expr(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"))
            ).alias("fh")
        )
        .filter(F.col("fh") < limit)
    )
    return (
        d.withColumn("rk", F.rank().over(Window.partitionBy("id_a").orderBy("fh")))
        .filter(F.col("rk") == 1)
        .select("id_a", "id_b", F.round("fh", 6).alias("fh_dist"))
    )


def line_params(verts: DataFrame) -> DataFrame:
    """Per-line descriptor (utils.py:60-74 mparams): LENGTH-WEIGHTED
    centroid — shapely's LineString centroid semantics, which the
    reference inherits: sum of segment midpoints weighted by segment
    length — plus total length and the bearing of the end-to-end
    chord. Degenerate lines (all vertices coincident, zero length)
    fall back to the plain vertex mean."""
    ends = verts.groupBy("id").agg(
        F.avg("vx").alias("_vmx"),
        F.avg("vy").alias("_vmy"),
    )
    seg = verts.select(
        "id", "vidx", "vx", "vy",
        F.lead("vx").over(Window.partitionBy("id").orderBy("vidx")).alias("nx"),
        F.lead("vy").over(Window.partitionBy("id").orderBy("vidx")).alias("ny"),
    )
    seg_len = euclid_expr(F.col("vx"), F.col("vy"), F.col("nx"), F.col("ny"))
    length = seg.filter(F.col("nx").isNotNull()).groupBy("id").agg(
        F.sum(seg_len).alias("length"),
        F.sum(seg_len * (F.col("vx") + F.col("nx")) / 2.0).alias("_wx"),
        F.sum(seg_len * (F.col("vy") + F.col("ny")) / 2.0).alias("_wy"),
    )
    first = verts.filter(F.col("vidx") == 0).select(
        "id", F.col("vx").alias("fx"), F.col("vy").alias("fy")
    )
    w_last = Window.partitionBy("id").orderBy(F.col("vidx").desc())
    last = (
        verts.withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .select("id", F.col("vx").alias("lx"), F.col("vy").alias("ly"))
    )
    return (
        ends.join(length, "id")
        .join(first, "id")
        .join(last, "id")
        .select(
            "id",
            F.when(F.col("length") > 0, F.col("_wx") / F.col("length"))
            .otherwise(F.col("_vmx"))
            .alias("cx"),
            F.when(F.col("length") > 0, F.col("_wy") / F.col("length"))
            .otherwise(F.col("_vmy"))
            .alias("cy"),
            "length",
            bearing_expr(
                F.col("fx"), F.col("fy"), F.col("lx"), F.col("ly")
            ).alias("bearing"),
        )
    )


def match_line_cluster(
    verts_a: DataFrame,
    verts_b: DataFrame,
    n_iter: int = 2,
    round_digits: int = 6,
    max_k: int = 4096,
    force: bool = False,
) -> DataFrame:
    """KMeans co-clustering match (core.py:70-101, intended semantics):
    cluster the pooled descriptors into k=|A| cells, emit (id_a, id_b)
    for rows sharing a cell.

    Since round 8 the clustering is the package's own DETERMINISTIC
    relational Lloyd (``vector/kmeans.py kmeans_assign`` — the
    ``embedding_clusters`` recipe): seed centers are side A's own
    descriptors (k = |A| exactly as the reference passes
    ``n_clusters=len(gdf1)``, and every A line starts nearest its own
    seed), ``n_iter`` fixed Lloyd rounds with means rounded to
    ``round_digits``, assignment to the final centers.  ``pyspark.ml``'s
    KMeans is gone from this path: its k-means|| init is partition-
    sensitive, so the raw pairs could never be hash-gated (they were
    the repo's last rows-only query; the r4 driver run split one twin
    pair the identical local run kept).  Descriptors are rounded to
    ``round_digits`` BEFORE seeding/pooling so both engines feed the
    Lloyd rounds bit-identical doubles (oracles.MATCH_LINE_CLUSTER
    replays every round relationally in DuckDB).

    The seed collect is k descriptor rows — k is the blocking
    parameter, bounded by design (same class as the PQ codebook
    collects), never corpus-scale.  Because the reference semantics
    force k = |A| (core.py:74 passes ``n_clusters=len(gdf1)``), an
    unwary caller handing a corpus-scale left side would collect the
    whole descriptor table onto the driver and ship k centers into
    an O(n*k) distance kernel — so the ``cosine_topk
    max_pairs`` discipline applies: calls where |A| exceeds ``max_k``
    raise unless ``force=True``, steering large-scale callers to
    block/subset the left side first (the entry points bound |A| by
    subsetting; the guard makes the driver-side cost impossible to
    hit by accident).  The guard's count job re-executes verts_a's
    upstream lineage once — cache it first if that lineage is
    expensive.  Everything else is the ``kmeans_assign`` shape: per
    round ONE map-only job collecting at most k cell sums per
    partition; assignments never shuffle.
    """
    from ..vector.kmeans import kmeans_assign

    def _descriptors(verts: DataFrame) -> DataFrame:
        p = line_params(verts)
        return p.select(
            "id",
            *[
                F.round(F.col(c), round_digits).alias(c)
                for c in ("cx", "cy", "length", "bearing")
            ],
        )

    from ..cache import tracked_persist

    # side A's descriptor table is consumed THREE times (the max_k
    # guard count, the k-row seed collect, and the pooled union that
    # kmeans_assign materializes) — each evaluation re-runs the
    # 2-aggregate/2-window/3-join line_params build over A's vertex
    # table (guide §5). Persist the k-row descriptor projection so the
    # build runs once; B's descriptors are consumed once and stay
    # unpersisted.
    pa = tracked_persist(_descriptors(verts_a))
    pb = _descriptors(verts_b)
    if not force:
        k = pa.count()
        if k > max_k:
            raise ValueError(
                f"match_line_cluster seeds k=|A| centers on the driver "
                f"(reference semantics: n_clusters=len(gdf1)): "
                f"|A|={k} exceeds max_k={max_k}. Block/subset the left "
                f"side below max_k (the entry queries subset to 1000), "
                f"raise max_k deliberately, or pass force=True."
            )
    # seed centers: A's descriptors in id order (cell i IS the i-th A
    # line) — k rows on the driver, bounded by the blocking parameter
    seeds = [
        [r.cx, r.cy, r.length, r.bearing]
        for r in pa.orderBy("id").collect()
    ]
    if not seeds:
        return pa.sparkSession.createDataFrame(
            [], "id_a bigint, id_b bigint"
        )
    # pooled rows keyed by id*2 + side bit so one assignment pass labels
    # both sides; decomposed after the final assign
    vec = F.array("cx", "cy", "length", "bearing")
    pooled = (
        pa.select((F.col("id") * 2).alias("key"), vec.alias("_v"))
        .unionByName(
            pb.select((F.col("id") * 2 + 1).alias("key"), vec.alias("_v"))
        )
    )
    # the labeled frame feeds BOTH sides of the cell self-join below:
    # persist it so the A-side and B-side branches read one cached
    # assignment instead of each running the final assignment kernel
    # (the Lloyd rounds themselves ran inside kmeans_assign, which
    # returns one assignment pass over its cached input; guide §5)
    labeled = tracked_persist(
        kmeans_assign(
            pooled,
            seeds,
            n_iter=n_iter,
            id_col="key",
            vec_col="_v",
            round_digits=round_digits,
        )
    )
    la = labeled.filter(F.col("key") % 2 == 0).select(
        (F.col("key") / 2).cast("bigint").alias("id_a"), "cell"
    )
    lb = labeled.filter(F.col("key") % 2 == 1).select(
        ((F.col("key") - 1) / 2).cast("bigint").alias("id_b"), "cell"
    )
    return la.join(lb, "cell").select("id_a", "id_b")
