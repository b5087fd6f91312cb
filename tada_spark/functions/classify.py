"""Closed-form text classification — the trainable-filter tier.

Real pretraining pipelines attach a cheap supervised classifier to the
corpus (fastText-style language ID, quality classifiers distilled from
an LLM judge, domain routers). The Spark-native analog here is a
multinomial Naive Bayes over hashed unigram features: training is TWO
bounded aggregates (per-(label, bucket) token counts and per-label doc
counts — both label×bucket-sized, never corpus-sized), scoring is one
broadcast join of the weight grid onto the per-doc bucket counts, and
everything is exact-integer det_ln arithmetic so a DuckDB oracle
hash-matches the scores bit-for-bit. No reference counterpart (the
reference has no ML surface at all); the design follows the same
determinism discipline as sampling.dsir_scores.

100 TB shape: the feature stream is explode → groupBy(doc, bucket)
count (map-side combine collapses repeated tokens before any
shuffle); the L×B weight grid (e.g. 8 labels × 512 buckets = 4096
rows) broadcasts; the only corpus-sized shuffle is the per-(doc,
label) score sum, and the argmax is a bounded L-row-per-doc window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tada_spark.plans.semantics import det_ln, pin


def _nb_bucket(tok: Column, n_buckets: int) -> Column:
    from tada_spark.functions.text import md5_hash32

    # coalesce is a semantic no-op (tokens are non-null by
    # construction) but keeps the join key provably non-nullable so
    # broadcast-join IsNotNull inference folds instead of re-hashing
    # (the r10 DUP_EXPR lesson)
    return F.coalesce(F.pmod(md5_hash32(F.concat(F.lit("nb#"), tok)), F.lit(n_buckets)), F.lit(0))


def naive_bayes_scores(
    train: DataFrame,
    test: DataFrame,
    *,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 512,
) -> DataFrame:
    """Train multinomial NB on ``train``, score every ``test`` doc
    under every training label.

    Laplace-smoothed, integer-quantized: per-token weight
    lw_e6(l, b) = floor(det_ln((c_lb + 1) / (n_l + B)) * 1e6 + 0.5)
    and log-prior prior_e6(l) = floor(det_ln((d_l + 1) / (D + L)) *
    1e6 + 0.5); a doc's score under label l is prior_e6 + Σ per-token
    lw_e6 — all BIGINT sums, so float order can never flip a ranking.

    Returns (id, label, score_e6, n_toks) — one row per test doc per
    label; argmax/margins are a window away (naive_bayes_classify).
    """
    toks = F.expr(rf"filter(split(lower(trim({text_col})), '\\s+'), x -> x != '')")

    def feature_counts(df: DataFrame, *extra: str) -> DataFrame:
        return (
            df.filter(F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0))
            .select(*extra, F.explode(toks).alias("__tok__"))
            .select(*extra, _nb_bucket(F.col("__tok__"), n_buckets).alias("bucket"))
            .groupBy(*extra, "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    # --- train: bounded count tables ---------------------------------
    # lb's OUTPUT is bounded (≤ L×B rows) but its BUILD tokenizes the
    # whole training corpus; pinning it means label_tok and the weight
    # grid share ONE tokenization pass instead of re-deriving it per
    # consumer (the minhash single-scan lesson). doc_counts (≤ L rows)
    # likewise feeds both the grid and the prior scalars. Both are lazy
    # pins the returned plan reads; Spark frees them once the result is
    # dropped.

    # a trainable row needs BOTH a label and at least one token: a
    # blank-text labeled doc trains nothing — including it only in the
    # prior denominators would score test docs under a label that has
    # no weight-grid rows (hypothesis-caught; the SQL oracle pins this
    # contract)
    trainable = train.filter(
        F.col(label_col).isNotNull()
        & F.col(text_col).isNotNull()
        & (F.length(F.trim(F.col(text_col))) > 0)
    )
    lb = pin(feature_counts(trainable, label_col))
    label_tok = lb.groupBy(label_col).agg(F.sum("c").alias("n_l"))
    doc_counts = pin(trainable.groupBy(label_col).agg(F.count(F.lit(1)).alias("d_l")))
    # 1-row scalar broadcast for the prior denominators (D docs, L
    # labels) — the tfidf/q11 scalar-subquery shape, never a
    # driver-side collect
    scalars = doc_counts.agg(
        F.sum("d_l").alias("__d__"), F.count(F.lit(1)).alias("__l__")
    )

    # full L×B grid so unseen (label, bucket) cells get the smoothed
    # floor weight instead of silently dropping the token
    buckets = train.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    grid = (
        doc_counts.select(label_col, "d_l")
        .crossJoin(F.broadcast(buckets))  # L × B rows, both sides bounded
        .join(F.broadcast(label_tok), label_col)
        .join(F.broadcast(lb), [label_col, "bucket"], "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            label_col,
            "bucket",
            "d_l",
            "n_l",
            "__d__",
            "__l__",
            F.coalesce(F.col("c"), F.lit(0)).alias("c_lb"),
        )
    )
    b = F.lit(n_buckets).cast("long")
    weights = grid.select(
        F.col(label_col).alias("__label__"),
        "bucket",
        F.floor(det_ln((F.col("c_lb") + 1).cast("double") / (F.col("n_l") + b).cast("double")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("lw_e6"),
        F.floor(
            det_ln((F.col("d_l") + 1).cast("double") / (F.col("__d__") + F.col("__l__")).cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("prior_e6"),
    )

    # --- score: one broadcast join, one keyed shuffle ----------------
    doc_buckets = feature_counts(test, id_col)
    scored = (
        doc_buckets.join(F.broadcast(weights), "bucket")
        .groupBy(id_col, "__label__")
        .agg(
            (F.first("prior_e6") + F.sum(F.col("c") * F.col("lw_e6"))).alias("score_e6"),
            F.sum("c").alias("n_toks"),
        )
    )
    return scored.withColumnRenamed("__label__", "label")


def naive_bayes_classify(
    train: DataFrame,
    test: DataFrame,
    *,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 512,
) -> DataFrame:
    """Argmax over naive_bayes_scores with a deterministic tiebreak
    (higher score first, then lexicographically smaller label), plus
    the margin to the runner-up — the classifier-confidence signal
    routing/filtering pipelines threshold on. Returns
    (id, pred_label, score_e6, margin_e6, n_toks)."""
    scores = naive_bayes_scores(
        train, test,
        label_col=label_col, text_col=text_col, id_col=id_col, n_buckets=n_buckets,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score_e6").desc(), F.col("label").asc())
    ranked = scores.select(
        id_col,
        "label",
        "score_e6",
        "n_toks",
        F.row_number().over(w).alias("__rk__"),
        (F.col("score_e6") - F.lead("score_e6").over(w)).alias("__gap__"),
    )
    return ranked.filter(F.col("__rk__") == 1).select(
        id_col,
        F.col("label").alias("pred_label"),
        "score_e6",
        F.coalesce(F.col("__gap__"), F.lit(0)).cast("long").alias("margin_e6"),
        "n_toks",
    )
