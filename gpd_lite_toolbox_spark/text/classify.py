"""Multinomial Naive Bayes document classification — the linear
bag-of-words classifier family (the published pipeline practice:
fastText-style quality / language / domain classifiers gate what
enters a training corpus). Training is ONE counting pass and scoring
one token join — both plain relational algebra over native functions,
so the whole train+score cycle is cross-engine checkable and scales
as ordinary keyed shuffles. No MLlib dependency, no UDFs.

Numerics: log-probabilities are ln of exact integer ratios
((count + 1) / (class_total + V), Laplace smoothing), summed per
document; scores are rounded to 6 decimals before the argmax and
ties break on the class name, so both engines select the identical
class even when two classes score within double-precision drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import tracked_persist


def _tokens(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """Whitespace tokens, the engine's corpus convention (same split
    as unigram_logprob / token_stats). NULL text coalesces to the
    empty string so a null-text document still receives a prediction
    instead of silently vanishing from the output (the pipeline.py
    convention). ``label_col`` adds the training label column."""
    cols = [
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("tok"),
    ]
    if label_col is not None:
        cols.insert(0, F.col(label_col).alias("label"))
    return corpus.select(*cols)


def train_nb(
    labeled: DataFrame,
    label_col: str = "label",
    id_col: str = "id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Fit the classifier from a labeled corpus. Returns
    ``(model, classes)``:

    - ``model``: (label, tok, log_cond) — ln((n_tok_in_class + 1) /
      (class_total + V)) for every (class, token) SEEN in training;
    - ``classes``: (label, log_prior, log_default) — document-share
      prior and the unseen-token fallback ln(1 / (class_total + V)).

    Plan: one token explode feeding two partial-combined counting
    aggregates (per (class, token) and per class), a distinct-token
    vocabulary count, and broadcast-sized joins of the tiny per-class
    table. Everything downstream of the explode is counts — the
    model is exact integer arithmetic until the final ln.
    """
    toks = _tokens(labeled, id_col, text_col, label_col)
    # ONE corpus-scale pass: class totals and the vocabulary size both
    # derive from the (vocab-sized) per-(class, token) aggregate — the
    # module discipline unigram_logprob/build_vocab document, not a
    # re-tokenization per statistic.
    class_tok = tracked_persist(
        toks.groupBy("label", "tok").agg(F.count("*").alias("n_tok"))
    )
    class_tot = class_tok.groupBy("label").agg(
        F.sum("n_tok").alias("n_total")
    )
    vocab = class_tok.select(F.countDistinct("tok").alias("v"))
    docs_per_class = labeled.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("n_docs")
    )
    n_docs = labeled.select(F.count("*").alias("n_all"))
    classes = (
        class_tot.join(F.broadcast(vocab))
        .join(docs_per_class, "label")
        .join(F.broadcast(n_docs))
        .select(
            "label",
            F.log(F.col("n_docs") / F.col("n_all")).alias("log_prior"),
            F.log(
                F.lit(1.0) / (F.col("n_total") + F.col("v"))
            ).alias("log_default"),
            "n_total",
            "v",
        )
        # class-count-sized; consumed by the model join AND every
        # scoring pass — caching it stops each consumer replaying the
        # four corpus-scale aggregates behind it
    )
    classes = tracked_persist(classes)
    model = (
        class_tok.join(
            classes.select("label", "n_total", "v"), "label"
        )
        .select(
            "label",
            "tok",
            F.log(
                (F.col("n_tok") + 1) / (F.col("n_total") + F.col("v"))
            ).alias("log_cond"),
        )
    )
    return model, classes.select("label", "log_prior", "log_default")


def score_nb(
    corpus: DataFrame,
    model: DataFrame,
    classes: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Classify documents: (id, label, score) with exactly one row per
    document — the argmax class, score rounded to 6 decimals, ties
    broken by class name.

    Plan: tokens cross-join the (tiny, broadcast) class table so every
    token scores under every class, left-join the model for the seen
    log-probs with the class's unseen fallback otherwise, then one
    partial-combined sum per (doc, class) and a per-doc top-1 window
    (WindowGroupLimit heaps). The per-token work is |tokens| x
    |classes| — the class count is a small constant, so the scoring
    pass stays linear in the corpus.
    """
    toks = _tokens(corpus, id_col, text_col)
    # ONE broadcast of the class table carrying BOTH per-class
    # constants: log_prior is constant within the (id, label) group,
    # so max() re-surfaces it through the aggregate — a second join
    # would replay the classes lineage (four corpus-scale aggregates)
    # per consumption.
    scored = (
        toks.join(F.broadcast(classes))
        .join(model, ["label", "tok"], "left")
        .select(
            "id",
            "label",
            F.coalesce("log_cond", "log_default").alias("lp"),
            "log_prior",
        )
        .groupBy("id", "label")
        .agg(
            F.round(
                F.sum("lp") + F.max("log_prior"), 6
            ).alias("score")
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "label", "score")
    )


def nb_confusion(
    labeled: DataFrame,
    label_col: str = "label",
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Train-on-self confusion matrix: fit on the labeled corpus,
    score the same corpus, and count (actual, predicted) cells — the
    standard sanity report a classifier gate ships with. Output:
    (actual, predicted, n_docs)."""
    model, classes = train_nb(labeled, label_col, id_col, text_col)
    pred = score_nb(labeled, model, classes, id_col, text_col)
    return (
        labeled.select(
            F.col(id_col).alias("id"), F.col(label_col).alias("actual")
        )
        .join(pred.select("id", F.col("label").alias("predicted")), "id")
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


def hash_features(
    corpus: DataFrame,
    n_features: int = 64,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Hashing-trick featurization (the HashingTF / Vowpal-Wabbit
    scheme): every token maps to ``md5-hash mod n_features`` and the
    per-(doc, bucket) counts are the feature values — the fixed-width,
    vocabulary-free representation that feeds linear quality
    classifiers at corpus scale (no fit pass, no vocab broadcast, new
    tokens never resize the space).

    Long-form output ``(id, bucket, n)`` — only occupied buckets
    emit a row, so the frame stays sparse regardless of
    ``n_features``; densify downstream with a row-local
    ``map_from_entries``/``transform`` when a fixed array is needed.

    Scale shape: one token explode + ONE combinable (id, bucket)
    aggregate; hash bucketing is a native md5 expression (the same
    cross-engine ``conv(substr(md5))`` identity the dedup family
    uses), so the whole operator is JVM-side."""
    if n_features <= 0:
        raise ValueError("n_features must be positive")
    toks = _tokens(corpus, id_col, text_col)
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("bigint")
        % F.lit(int(n_features))
    ).cast("int")
    return (
        toks.select("id", bucket.alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count("*").alias("n"))
    )


# Engines implement ROUND differently (Spark: HALF_UP on the double's
# exact decimal expansion; DuckDB: scaled multiply) and DISAGREE on
# doubles sitting within an ulp of a half-way point — observed on a
# gradient average whose exact decimal sum made the quotient
# bit-identical in both engines yet still rounded apart. The LR family
# therefore rounds through a 1e-9 upward shift on BOTH sides of the
# gate (the PPJoin exact-ceil recipe): identical inputs land >= ~1e-9
# from any half-way point, where every implementation agrees.
# SQL-string forms of the numerics recipes (numerics.r6/qdec/dsum,
# here as text): the LR trainer builds its
# per-round expressions as expr() strings (ONE py4j call each) — the
# Column-API build measured ~1.4 s of driver time per lr_quality call
# (the unigram lesson, text/unigram.py:_viterbi_sql). Literal typing
# matters in SQL text: bare `0.5` parses as DECIMAL, so doubles are
# written with the D suffix or a string cast, keeping every type —
# and therefore every rounding step — identical to the Column forms.
def _r6s(e: str, d: int) -> str:
    return f"round(({e}) + 1e-9, {d})"


def _qdecs(c: str, d: int) -> str:
    return f"CAST({_r6s(f'`{c}`', d)} AS DECIMAL(14,6))"


def _dsums(e: str) -> str:
    return f"CAST(CAST(SUM({e}) AS DECIMAL(26,6)) AS DOUBLE)"


def _dlit(x: float) -> str:
    """A double literal whose bits equal ``F.lit(x)``: repr
    round-trips the double exactly and the string cast is
    correctly-rounded."""
    return f"CAST('{x!r}' AS DOUBLE)"


def standardize_features(
    df: DataFrame,
    feature_cols: list[str],
    round_digits: int = 6,
) -> DataFrame:
    """Z-standardize numeric feature columns IN PLACE (same names),
    deterministically and cross-engine exactly: features are quantized
    to the 6-decimal lattice, the moment SUMS run in DECIMAL — exact
    and ORDER-INDEPENDENT, unlike double sums whose partition order
    wobbles the last ulp and splits engines when a rounded average
    lands on a lattice midpoint (observed: one gradient at sf0.001) —
    and every derived quantity (mu, m2, variance, sigma, the
    standardized value) is rounded to ``round_digits``. Sigma derives
    relationally (sqrt(m2 - mu^2) on ROUNDED inputs), never from an
    engine's streaming stddev. A constant feature (sigma 0)
    standardizes to 0.0 rather than NaN.

    Magnitude contract (round-6 ADVICE): |x| < 1e8 for the
    DECIMAL(14,6) lattice, AND the m2 moment sums x^2 through
    ``numerics.dsum``, whose decimal-to-double cast is engine-stable
    only for |sum| < 9e9 — so PRE-SCALE raw features whose squares can
    accumulate past that at corpus size (standardization makes the
    model scale-invariant; e.g. lr_quality feeds kilochars, not chars,
    keeping per-row squares <= 400 at any corpus size). The contract
    is the caller's: checking max|x| here would cost an extra
    aggregate pass on every training run."""
    d = int(round_digits)
    n = "CAST(COUNT(1) AS DOUBLE)"
    stats = df.agg(
        *[
            F.expr(
                _r6s(f"{_dsums(_qdecs(c, d))} / {n}", d)
            ).alias(f"_mu_{c}")
            for c in feature_cols
        ],
        *[
            # decimal x decimal -> decimal(29,12): still exact; the
            # sum rescales to scale 6 before the double cast (see
            # numerics.dsum — the cast itself is engine-divergent on
            # scale-12 payloads)
            F.expr(
                _r6s(
                    f"{_dsums(f'{_qdecs(c, d)} * {_qdecs(c, d)}')} / {n}",
                    d,
                )
            ).alias(f"_m2_{c}")
            for c in feature_cols
        ],
    )
    out = df.crossJoin(F.broadcast(stats))
    for c in feature_cols:
        var = _r6s(
            f"greatest(`_m2_{c}` - `_mu_{c}` * `_mu_{c}`, 0.0D)", d
        )
        sigma = _r6s(f"SQRT({var})", d)
        out = out.withColumn(
            c,
            F.expr(
                f"CASE WHEN {sigma} = 0.0D THEN 0.0D"
                f" ELSE {_r6s(f'(`{c}` - `_mu_{c}`) / {sigma}', d)} END"
            ),
        )
    return out.drop(
        *[f"_mu_{c}" for c in feature_cols],
        *[f"_m2_{c}" for c in feature_cols],
    )


def lr_train_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iter: int = 3,
    learning_rate: float = 0.5,
    round_digits: int = 6,
    standardize: bool = True,
) -> DataFrame:
    """Logistic-regression training as a FIXED number of batch
    gradient-descent rounds unrolled into one declarative plan — the
    trainable sibling of ``train_nb`` (the published practice: a small
    linear quality/domain classifier gates what enters a corpus).

    No driver collect, no convergence loop — ``n_iter`` one-row
    aggregates chained lazily, every cross-engine quantity on the
    ``round_digits`` lattice (standardized features, each round's
    sigmoid p, gradients, weights), so the DuckDB oracle replays the
    rounds bit-for-bit and the result is hash-gateable. ``pyspark.ml``
    LogisticRegression remains the quality path when a trained,
    non-gateable model is acceptable.

    Returns ONE row: ``(bias, w_<feature>, ...)``. Scale shape: per
    round, one partial-combined aggregate over the instance table and
    a broadcast of the one-row weights — instances never shuffle.
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    d = int(round_digits)
    lr = float(learning_rate)
    inst = df.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("_y"),
    )
    if standardize:
        inst = standardize_features(inst, feature_cols, d)
    if n_iter > 0:
        # the instance table feeds every round's gradient aggregate
        # (and standardization adds a stats aggregate + z-projection
        # to its lineage): persist the projected features so each
        # round re-scans a cache instead of re-standardizing
        # (guide §5, the kmeans_assign/MLlib input-cache pattern;
        # feature-table-sized, never wider than the selected columns)
        from ..cache import tracked_persist

        inst = tracked_persist(inst)
    # weights start at the exact-zero row (p = 0.5 everywhere)
    weights = inst.sparkSession.range(1).select(
        F.lit(0.0).alias("bias"),
        *[F.lit(0.0).alias(f"w_{c}") for c in feature_cols],
    )
    lin = "bias" + "".join(f" + `w_{c}` * `{c}`" for c in feature_cols)
    pd_yd = "(CAST(_p AS DECIMAL(8,6)) - CAST(_y AS DECIMAL(8,6)))"
    n_ = "CAST(COUNT(1) AS DOUBLE)"
    for _ in range(int(n_iter)):
        scored = inst.crossJoin(F.broadcast(weights)).withColumn(
            "_p",
            F.expr(_r6s(f"1.0D / (1.0D + EXP(-({lin})))", d)),
        )
        # DECIMAL gradient sums: p and the standardized features are
        # both lattice values, so (p - y) * x is exact in
        # DECIMAL(23,12) and the sum is order-independent — the same
        # midpoint-split defense as standardize_features
        grads = scored.agg(
            F.expr(_r6s(f"{_dsums(pd_yd)} / {n_}", d)).alias("_gb"),
            *[
                F.expr(
                    _r6s(
                        f"{_dsums(f'{pd_yd} * {_qdecs(c, d)}')} / {n_}",
                        d,
                    )
                ).alias(f"_g_{c}")
                for c in feature_cols
            ],
            # carry the weights through the aggregate (constant within
            # the one-row broadcast) so the update is a projection
            F.first("bias").alias("_b0"),
            *[F.first(f"w_{c}").alias(f"_w0_{c}") for c in feature_cols],
        )
        weights = grads.select(
            F.expr(
                _r6s(f"_b0 - {_dlit(lr)} * _gb", d)
            ).alias("bias"),
            *[
                F.expr(
                    _r6s(f"`_w0_{c}` - {_dlit(lr)} * `_g_{c}`", d)
                ).alias(f"w_{c}")
                for c in feature_cols
            ],
        )
    return weights


def lr_score(
    df: DataFrame,
    weights: DataFrame,
    feature_cols: list[str],
    id_col: str = "id",
    round_digits: int = 6,
    standardize: bool = True,
) -> DataFrame:
    """Per-row P(label=1) under a ``lr_train_gd`` weight row:
    ``(id, p)``, p rounded. ``standardize`` must match training (the
    moments re-derive from ``df``, so score the TRAINING corpus or
    standardize externally). Map-only: one broadcast of the one-row
    weights, no shuffle."""
    d = int(round_digits)
    inst = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
    )
    if standardize:
        inst = standardize_features(inst, feature_cols, d)
    lin = "bias" + "".join(f" + `w_{c}` * `{c}`" for c in feature_cols)
    return (
        inst.crossJoin(F.broadcast(weights))
        .withColumn(
            "p",
            F.expr(_r6s(f"1.0D / (1.0D + EXP(-({lin})))", d)),
        )
        .select("id", "p")
    )
