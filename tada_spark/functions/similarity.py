"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: a blocked cross join
whose cost is n_queries × n_corpus dot products — fine for small query
sets, linear in corpus size, embarrassingly parallel (corpus stays
partitioned; queries broadcast).

The scale path is LSH bucketing (random signed projections → sign
bits → band join), which turns the cross join into a per-bucket join,
same shape as MinHash LSH. Both are pure Column algebra: dot products
via zip_with + aggregate run in codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tada_spark.plans.semantics import iterate, pin, round_det, unpin
from tada_spark.session import local_frame
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in double precision, left-to-right (matches the oracle's
    list_dot_product on DOUBLE[])."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    """NULL when either vector has zero norm (cosine undefined) — a
    bare division would DIVIDE_BY_ZERO under the session's default
    ANSI mode and kill every cosine-based operator on the first
    zero/empty embedding. try_divide, not a when-guard: the guard
    would evaluate both norm folds twice (no CSE across aggregate
    HOFs). Window ranks use desc() (NULLS LAST), so undefined pairs
    simply never make a top-k."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast queries × corpus,
    rank by cosine desc (tie → lower corpus id).

    Plan shape at scale: corpus scan stays partitioned; broadcast hash
    join (queries are small by construction); per-query top-k via
    window — AQE keeps the shuffle at n_queries × k rows.

    r12 optimization (guide §1.2 step 2 — per-task work): the norms are
    hoisted BELOW the join. cosine() inline would re-fold norm(qv) once
    per corpus row and norm(cv) once per query — 2 of the 3 per-pair
    array folds are loop-invariant. Projecting each side's norm once
    (per query / per corpus row) leaves only the dot fold per pair;
    the quotient dot/(qn·cn) multiplies the identical doubles in the
    identical order, so results are bit-identical (oracle-hash-matched).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("__qn__"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("__cn__"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.try_divide(dot(F.col("qv"), F.col("cv")), F.col("__qn__") * F.col("__cn__")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    # undefined pairs (zero-norm side -> NULL cos) are unrankable: desc
    # sorts them LAST, so they only hold rank slots when real
    # candidates run out — the post-window filter drops them without
    # pushing the predicate into the scan, where it would evaluate the
    # whole cosine fold a second time per pair (bench-measured 1.8x)
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= k) & F.col("cos").isNotNull())
        .select("query_id", "neighbor_id", round_det("cos", 6).alias("cos"), F.col("rk").alias("rank"))
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
) -> DataFrame:
    """IVF list assignment: each vector joins its nearest centroid
    (by cosine). Centroids broadcast; corpus stays partitioned — the
    build step of an IVF index. Output: (id, vec, cent_id).

    Norms hoisted below the join (r12, see cosine_topk): one fold per
    vector / per centroid instead of per (vector, centroid) pair —
    bit-identical quotient."""
    c = centroids.select(
        F.col(cent_id), F.col(cent_vec), norm(F.col(cent_vec)).alias("__cn__")
    )
    scored = df.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__vn__")
    ).join(F.broadcast(c))
    scored = scored.withColumn(
        "cos",
        F.try_divide(dot(F.col(vec_col), F.col(cent_vec)), F.col("__vn__") * F.col("__cn__")),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cos").desc(), F.col(cent_id).asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & F.col("cos").isNotNull())
        .select(id_col, vec_col, cent_id)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: queries probe their nprobe nearest
    centroid lists only — the search cost drops from |corpus| to
    |corpus|·(nprobe/n_centroids) dot products per query. This is the
    ANN scale path; brute-force cosine_topk is the exact baseline."""
    cent = centroids.select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
    )
    assigned = ivf_assign(corpus, cent, id_col=id_col, vec_col=vec_col)

    # norms hoisted below every join (r12, see cosine_topk): the query
    # norm is folded once per query and carried through the probe set;
    # the corpus norm once per assigned vector — the per-candidate work
    # is the dot fold alone, quotient bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("__qn__"),
    )
    centn = cent.withColumn("__cn__", norm(F.col("cent_vec")))
    qscored = q.join(F.broadcast(centn)).withColumn(
        "cos",
        F.try_divide(dot(F.col("qv"), F.col("cent_vec")), F.col("__qn__") * F.col("__cn__")),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cent_id").asc())
    probes = (
        qscored.withColumn("rk", F.row_number().over(wq))
        .filter((F.col("rk") <= nprobe) & F.col("cos").isNotNull())
        .select("query_id", "qv", "__qn__", "cent_id")
    )

    cand = (
        probes.join(assigned.withColumn("__vn__", norm(F.col(vec_col))), on="cent_id")
        .filter(F.col("query_id") != F.col(id_col))
    )
    scored = cand.withColumn(
        "cos",
        F.try_divide(dot(F.col("qv"), F.col(vec_col)), F.col("__qn__") * F.col("__vn__")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("cos").isNotNull())
        .select("query_id", F.col(id_col).alias("neighbor_id"), round_det("cos", 6).alias("cos"), "rank")
    )


def lsh_sign_buckets(
    df: DataFrame,
    planes: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string over the given
    planes. Deterministic (planes passed in, not generated here) so
    results are reproducible and oracle-able."""
    bits = []
    for p in planes:
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(dot(F.col(vec_col), plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select(F.col(id_col), F.col(vec_col), F.concat(*bits).alias("bucket"))


def random_planes(dim: int, n_planes: int, n_tables: int = 1, seed: int = 7) -> list[list[list[float]]]:
    """Deterministic random hyperplanes for sign-LSH: ``n_tables`` plane
    sets of ``n_planes`` × ``dim`` Gaussian vectors from a fixed seed.
    Generated driver-side once (tiny), broadcast as literals into the
    plan — reproducible across runs/cluster sizes, so LSH results are
    stable and oracle-checkable."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        [[float(x) for x in rng.standard_normal(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def lsh_cosine_pairs(
    df: DataFrame,
    tables: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """OR-ed multi-table LSH near-dup pairs with exact cosine re-check.

    Each table buckets independently (AND over its planes); a pair is a
    candidate if ANY table co-buckets it (OR across tables) — the
    standard recall amplifier: miss probability decays exponentially in
    the table count ((1-(1-θ/π)^P)^T). Candidates carry their vectors
    through the per-bucket equi-join (no cross join anywhere), the exact
    cosine filters false positives, and a final distinct dedupes pairs
    found by several tables (cheap — runs on the tiny post-threshold
    set). The 100 TB-safe replacement for all-pairs cosine scans.

    r12 single-pipeline form: the old shape built T independent
    candidate subplans (T bucket checkpoints + T self-joins + a
    union). Executed work was small but the T-fold subplan replication
    dominated DRIVER time (measured at sf0.1: 1.6 s of jobs inside a
    4.2 s wall). Now ONE projection computes every table's sign bucket
    (same 32 plane dots total), the (table, bucket) pairs explode, and
    ONE self-join on (table, bucket) finds all candidates; the same
    final dropDuplicates collapses multi-table hits. Pair set and
    cosine expression are unchanged, so results are identical.
    """
    if not tables:
        # reachable via random_planes(dim, n, n_tables=0); a bare
        # IndexError carries no context
        raise ValueError("lsh_cosine_pairs: tables must be non-empty")
    tb_structs = []
    for t, planes in enumerate(tables):
        bits = []
        for p in planes:
            plane = F.array(*[F.lit(float(x)) for x in p])
            bits.append(
                F.when(dot(F.col(vec_col), plane) >= 0, F.lit("1")).otherwise(F.lit("0"))
            )
        tb_structs.append(
            F.struct(F.lit(t).alias("t"), F.concat(*bits).alias("bucket"))
        )
    # norm hoisted BEFORE the explode: one fold per vector, not per
    # (vector, table) row (the cosine_topk hoist discipline)
    b = pin(
        df.select(
            F.col(id_col),
            F.col(vec_col),
            norm(F.col(vec_col)).alias("__n__"),
            F.explode(F.array(*tb_structs)).alias("__tb__"),
        )
        .select(
            id_col,
            vec_col,
            "__n__",
            F.col("__tb__.t").alias("__t__"),
            F.col("__tb__.bucket").alias("bucket"),
        )
    )
    a, c = b.alias("a").hint("shuffle_hash"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.__t__") == F.col("b.__t__"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        # float discipline: threshold the ROUNDED cosine (see
        # lsh_cosine_candidates)
        .withColumn(
            "cos",
            round_det(
                F.try_divide(
                    dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")),
                    F.col("a.__n__") * F.col("b.__n__"),
                ),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cos",
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_cosine_candidates(
    df: DataFrame,
    planes: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """Near-neighbor pairs within LSH buckets — the ANN scale path.
    Recall is tunable via number of planes / OR-ed tables."""
    # norm hoisted into the bucketed table (r12, see cosine_topk): one
    # fold per vector instead of two per candidate pair — quotient
    # bit-identical. A lazy pin holds the bucket table once per
    # invocation: the self-join's identical shuffle sides are
    # AQE-reused anyway, but each OR-ed table otherwise replicates the
    # plane-projection subtree through planning, and the pin measured
    # slightly faster and much more stable (3.62 s vs 3.80 s
    # same-session, OPTIMIZATION_r12.md).
    b = pin(
        lsh_sign_buckets(df, planes, id_col=id_col, vec_col=vec_col)
        .withColumn("__n__", norm(F.col(vec_col)))
    )
    a, c = b.alias("a").hint("shuffle_hash"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        # float discipline: threshold the ROUNDED cosine — oracles compare
        # ROUND(cos, 6) >= t, and a raw-value filter would drop pairs
        # whose true cosine sits in [t - 5e-7, t)
        .withColumn(
            "cos",
            round_det(
                F.try_divide(
                    dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")),
                    F.col("a.__n__") * F.col("b.__n__"),
                ),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cos",
        )
    )


def kmeans_quantized(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Lloyd's k-means over embeddings, made cross-engine EXACT: vectors
    quantize to integer 1e-6 units (floor(x*1e6 + 0.5) — identical IEEE
    ops on identical inputs), so every squared-L2 distance is pure
    integer arithmetic and every centroid update is one deterministic
    rounding (floor(sum/n + 0.5)) back onto the integer grid. No float
    accumulation anywhere ⇒ assignments hash-match any engine that
    replays the same recipe (the DuckDB oracle unrolls the iterations).

    Init: the k lowest-id vectors (deterministic). Ties in assignment
    break toward the lower centroid id.

    100 TB shape: centroids are k rows — broadcast each round onto the
    partitioned corpus (a 1-row-per-centroid nested loop is O(n·k), the
    correct plan); the update is one (cluster, dim) aggregate with
    map-side partials; centroid lineage is cut per round with a pin
    (k·dim values) so the plan stays O(1) across iterations.
    """
    q = df.select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col), lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("v"),
    )
    # lazy pins (r13): each round's centroid table is k·dim values
    # consumed ONLY by the next assign's broadcast build, which
    # materializes it there — an eager pin per round scheduled an extra
    # blocking job per round for the same bytes.
    cents = pin(
        q.orderBy("vid")
        .limit(k)
        .select(F.col("vid").alias("cid"), F.col("v").alias("cv"))
    )

    def assign(cents_df, *, with_v: bool):
        pairs = q.crossJoin(F.broadcast(cents_df)).withColumn(
            "dist",
            F.aggregate(
                F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        # r13 (guide §2.3, aggregate before you shuffle): the old
        # row_number window shuffled and sorted all n·k assignment rows
        # per round; min(struct(dist, cid)) is the identical
        # (dist, cid)-ascending winner (cid is unique per vid, so the
        # later fields never tie-break; nulls order first in both
        # forms — probed) computed with map-side partial aggregation:
        # the exchange carries n partially-reduced rows, no sort. The
        # final round skips carrying v through the aggregate so column
        # pruning still reaches the scan.
        m = (
            F.min(F.struct("dist", "cid", "v"))
            if with_v
            else F.min(F.struct("dist", "cid"))
        )
        out = pairs.groupBy("vid").agg(m.alias("__m__"))
        cols = ["vid", F.col("__m__.cid").alias("cid")]
        if with_v:
            cols.append(F.col("__m__.v").alias("v"))
        return out.select(*cols)

    for it in range(iters - 1):
        assigned = assign(cents, with_v=True)
        # posexplode_outer + dim filter: see embedding_outliers — the
        # inferred size(transform(...)) filter would re-quantize at the scan
        dims = assigned.select(
            "cid", F.posexplode_outer(F.col("v")).alias("dim", "val")
        ).filter(F.col("dim").isNotNull())
        upd = dims.groupBy("cid", "dim").agg(
            F.floor(F.sum("val") / F.count("*") + F.lit(0.5)).cast("long").alias("cval")
        )
        cents = pin(
            upd.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                    lambda s: s["cval"],
                ).alias("cv")
            )
        )
    assigned = assign(cents, with_v=False)
    return assigned.select(F.col("vid").alias(id_col), F.col("cid").alias("cluster"))


def sq8_dim_stats(corpus: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (min, max) of the corpus as ONE row of two arrays
    (mns, mxs) — the SQ8 training step, fully in-plan: posexplode →
    dim-keyed aggregate → the kmeans-style sorted-collect rebuild into
    a dim-length array. The result is a 1-row model-parameter frame the
    quantizer broadcasts (the allowlisted 1-row BNLJ); at 100 TB you'd
    train on a sample, which changes nothing downstream."""
    dims = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .select("dim", F.col("x").cast("double").alias("x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    return dims.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )


def sq8_codes(
    df: DataFrame,
    stats_row: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "codes",
) -> DataFrame:
    """Scalar-quantize each vector to uint8 codes (FAISS SQ8): per dim,
    code = clamp(floor((x - mn) * 255 / (mx - mn) + 0.5), 0, 255).
    The 1-row stats frame broadcasts into the plan (codebook-as-data,
    no driver collect), so this is a stateless narrow map — 4×
    memory/IO shrink per float32 dim, and downstream distances become
    exact integer arithmetic. Floor-then-clamp order is pinned (the
    oracle replays it); a constant dimension (mx == mn) codes to 0."""

    def q(x, i):
        mn = F.element_at(F.col("mns"), i + 1)
        mx = F.element_at(F.col("mxs"), i + 1)
        raw = F.floor(((x.cast("double") - mn) * F.lit(255.0)) / (mx - mn) + F.lit(0.5))
        return F.when(mx > mn, F.least(F.lit(255), F.greatest(F.lit(0), raw.cast("int")))).otherwise(
            F.lit(0)
        )

    return (
        df.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(stats_row))
        .withColumn(out, F.transform(F.col(vec_col), q))
        .drop("mns", "mxs")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ over int code arrays as an exact long — summation-order
    free, so it hash-checks with no rounding idiom at all."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sq8_topk(
    corpus: DataFrame,
    *,
    n_probes: int = 5,
    k: int = 5,
    shortlist: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 ANN with exact re-rank — the third point on the repo's ANN
    cost curve (brute cosine = exact baseline, IVF = partition-pruned,
    SQ8 = compressed-domain): probes (the n_probes lowest ids, same
    derivation the oracle replays) score the whole corpus by INTEGER
    code dot product (4× less memory traffic than float32, exact long
    arithmetic), keep a ``shortlist``, then re-rank only the shortlist
    by exact float cosine and emit top-``k``.

    100 TB design: the codes table is the 4×-smaller scan; probes
    broadcast (the allowlisted BNLJ of the ANN family); the shortlist
    (n_probes × shortlist rows) is the only thing that joins back to
    the full-precision vectors — compressed-domain scan, full-precision
    touch only on candidates, the standard SQ/ADC serving shape.

    Contract (mirrored by the oracle): null/empty embeddings are
    dropped up front — a null vector would otherwise ride a NULL
    q_score into an under-filled top-k on the Spark side while the
    oracle's per-row UNNEST drops it. Vectors are assumed fixed-width
    (the table's schema contract, same as kmeans_quantized); ragged
    rows are a caller error, not a silent partial score.
    """
    corpus = corpus.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    stats = sq8_dim_stats(corpus, vec_col=vec_col)
    coded = sq8_codes(corpus, stats, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("codes").alias("cc")
    )
    probes = (
        sq8_codes(
            corpus.orderBy(F.col(id_col).asc()).limit(n_probes), stats,
            id_col=id_col, vec_col=vec_col,
        )
        .select(F.col(id_col).alias("query_id"), F.col("codes").alias("qc"))
    )
    scored = coded.join(F.broadcast(probes), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", int_dot(F.col("qc"), F.col("cc")).alias("q_score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("q_score").desc(), F.col("neighbor_id").asc())
    cand = scored.withColumn("srk", F.row_number().over(w)).filter(F.col("srk") <= shortlist)

    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"))
    qv = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_probes)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    )
    # the shortlist is the small side: broadcast IT into the
    # full-precision corpus scan, never the corpus into the shortlist
    rer = (
        nv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos_raw", cosine(F.col("qvec"), F.col("nvec")))
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("neighbor_id").asc())
    return (
        rer.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "q_score",
            round_det("cos_raw", 6).alias("cos"), "rank",
        )
    )


def embedding_outliers(
    df: DataFrame,
    *,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 3,
) -> DataFrame:
    """Per-label embedding OUTLIER detection — the mislabeled/corrupt-
    vector audit an embedding pipeline runs before training: each
    vector's squared L2 distance to its own label's centroid, top-k
    farthest per label flagged. Built on the kmeans_quantized exactness
    discipline: vectors quantize to integer 1e-6 units, the centroid is
    one deterministic rounding back onto the grid, and every distance
    is pure long arithmetic — no float accumulation, so the flagged set
    hash-matches any engine replaying the recipe.

    100 TB shape: one (label, dim) aggregate with map-side partials
    builds the centroid table (labels × dims rows ≪ corpus), which
    broadcasts back onto the partitioned corpus; per-label ranking is
    the standard top-N-per-group window.
    """
    q = df.select(
        F.col(id_col),
        F.col(label_col),
        F.transform(
            F.col(vec_col), lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("v"),
    )
    # posexplode_outer, NOT posexplode: InferFiltersFromGenerate turns a
    # plain explode of a COMPUTED array into a pushed-down
    # size(transform(...))>0 scan filter that re-runs the quantize
    # transform per row (r10 DUP_EXPR audit); the rule skips outer
    # generates, and dim IS NULL only for the empty/NULL arrays the
    # inner explode would have dropped — elements (even NULL-valued
    # ones) always carry a position, so semantics are identical
    dims = q.select(label_col, F.posexplode_outer("v").alias("dim", "val")).filter(
        F.col("dim").isNotNull()
    )
    cents = dims.groupBy(label_col, "dim").agg(
        F.floor(F.sum("val") / F.count("*") + F.lit(0.5)).cast("long").alias("cval")
    )
    cent_arr = cents.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cval"))), lambda s: s["cval"]
        ).alias("cv")
    )
    j = q.join(F.broadcast(cent_arr), label_col)
    dist2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = j.select(F.col(id_col), F.col(label_col), dist2.alias("dist2"))
    w = Window.partitionBy(label_col).orderBy(F.col("dist2").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, label_col, "dist2", "rank")
    )


def semdedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    tau_e6: int = 300000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning — cluster the embeddings, then inside each
    cluster drop every vector whose cosine to a LOWER-id cluster-mate
    reaches the threshold, keeping the lowest id of each duplicate
    group as the representative. Emits (id, cluster, kept).

    Exactness: clustering is kmeans_quantized (integer-grid Lloyd's,
    iters=1 — init + one assignment, the unrollable recipe); pairwise
    dot products and squared norms are exact long arithmetic on the
    same e6 grid; only the final cosine is a double (dot / (√na·√nb),
    identical IEEE tree on both engines) and it is floor-e6-quantized
    before the >= tau_e6 compare. Zero-norm vectors never match
    (cosine undefined → NULL → filtered), null/empty embeddings are
    dropped up front — the sq8_topk contract.

    100 TB shape: the quadratic blow-up is confined within clusters by
    a cluster-keyed equi-join (never an all-pairs join); SemDeDup picks
    k ∝ corpus size so expected cluster size — and with it the
    per-cluster pair count — stays bounded; the k-row centroid
    broadcast is the allowlisted kmeans BNLJ. Pruning is one distinct
    + one left join back onto the assignment table.
    """
    live = df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    assigned = kmeans_quantized(
        live.select(id_col, vec_col), id_col=id_col, vec_col=vec_col, k=k, iters=1
    )
    q = live.select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col), lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("v"),
    ).withColumn(
        # the coalesce changes no surviving pair (a NULL norm — only
        # possible from a NULL embedding element — nulls the cosine,
        # which the >= tau filter drops, exactly as NULL n2 did) but
        # makes n2 provably non-nullable, so the IsNotNull constraint
        # the threshold filter infers folds to TRUE instead of pushing
        # the squared-norm fold into the scan (r10 DUP_EXPR audit)
        "n2",
        F.coalesce(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
            F.lit(0).cast("long"),
        ),
    )
    # staged (r12): t feeds BOTH pair-join sides and the final keep
    # join. The kmeans assignment rides a broadcast (BNLJ) build —
    # exactly the shape AQE does NOT reuse (replanning strips the
    # inner shuffle, so the canonical stage forms differ) — so the
    # assignment + quantization + norm folds re-ran per consumer. The
    # lazy pin holds the working set (id, v, n2, cluster)
    # once per invocation — measured −5% at sf0.1 (the pairwise dot
    # fold dominates locally; at scale the staging removes two full
    # re-runs of the assignment pipeline — OPTIMIZATION_r12.md).
    t = pin(q.join(assigned.withColumnRenamed(id_col, "vid"), "vid"))
    a = t.select("cluster", F.col("vid").alias("va"), F.col("v").alias("xa"), F.col("n2").alias("na"))
    b = t.select("cluster", F.col("vid").alias("vb"), F.col("v").alias("xb"), F.col("n2").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("xa"), F.col("xb"), lambda p, r: p * r),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # try_divide, not an (na > 0) guard: the guard predicate pushes
    # below the join into BOTH scans, where it re-runs the full
    # squared-norm fold per row (r10 DUP_EXPR audit). A zero norm makes
    # try_divide — and so c_e6 — NULL, and the >= tau filter drops it:
    # the same pairs survive with zero extra scan CPU.
    cos_e6 = F.floor(
        F.try_divide(
            dot.cast("double"),
            F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")),
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    pruned = (
        a.join(b, "cluster")
        .filter(F.col("va") < F.col("vb"))
        .select(F.col("vb").alias("__dup__"), cos_e6.alias("c_e6"))
        .filter(F.col("c_e6") >= F.lit(tau_e6))
        .select("__dup__")
        .distinct()
    )
    return (
        t.select("vid", "cluster")
        .join(pruned, t["vid"] == pruned["__dup__"], "left")
        .select(
            F.col("vid").alias(id_col),
            "cluster",
            F.col("__dup__").isNull().alias("kept"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = 8,
    k_cent: int = 4,
    n_probes: int = 5,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN with ADC scoring (Jégou et al. 2011) —
    the fourth point on the repo's ANN cost curve (brute cosine =
    exact, IVF = partition-pruned, SQ8 = compressed-domain scan,
    PQ/ADC = table-lookup scan): dims split into ``m_sub`` contiguous
    subspaces; each subspace gets ``k_cent`` centroids (integer-grid
    init = the k_cent lowest-id vectors' subvectors, one assignment
    round — the kmeans_quantized recipe, unrolled by the oracle); every
    vector encodes as m_sub small codes; each probe scores the corpus
    as Σ_sub dtab[probe, sub, code] — a sum of PRECOMPUTED exact
    integer subspace distances. No floats anywhere: the operator is
    pure long arithmetic on the e6 grid, so it hash-checks with no
    rounding idiom at all.

    100 TB shape: the centroid table (m_sub × k_cent × dims rows) and
    the probe distance tables (n_probes × m_sub × k_cent rows) are the
    ONLY broadcast sides; every join is an equi-join (on dim, probe id,
    or (sub, code)) — no nested loop at all, which is what makes ADC
    the serving-scale scan: codes are ~dims/4 bytes and the per-row
    score is m_sub lookups + adds. Vectors are fixed-width with
    dims % m_sub == 0 (the table's schema contract, like sq8_topk);
    ragged rows are a caller error.
    """
    live = corpus.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    dims = live.select(
        F.col(id_col).alias("vid"),
        F.size(F.col(vec_col)).alias("nd"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select(
        "vid",
        "dim",
        F.expr(f"dim div (nd div {m_sub})").alias("sub"),
        F.floor(F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("val"),
    )
    cent_dims = (
        live.orderBy(F.col(id_col).asc())
        .limit(k_cent)
        .select(F.col(id_col).alias("cid"), F.posexplode(F.col(vec_col)).alias("dim", "cx"))
        .select(
            "cid",
            "dim",
            F.floor(F.col("cx").cast("double") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("cval"),
        )
    )
    d1 = (
        dims.join(F.broadcast(cent_dims), "dim")
        .groupBy("vid", "sub", "cid")
        .agg(F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))).alias("sdist"))
    )
    w_assign = Window.partitionBy("vid", "sub").orderBy(F.col("sdist").asc(), F.col("cid").asc())
    codes = (
        d1.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vid", "sub", "cid")
    )
    probe_ids = live.orderBy(F.col(id_col).asc()).limit(n_probes).select(
        F.col(id_col).alias("pid")
    )
    dtab = d1.join(F.broadcast(probe_ids), d1["vid"] == probe_ids["pid"]).select(
        "pid", "sub", "cid", "sdist"
    )
    scored = (
        codes.join(F.broadcast(dtab), ["sub", "cid"])
        .filter(F.col("pid") != F.col("vid"))
        .groupBy(F.col("pid").alias("query_id"), F.col("vid").alias("neighbor_id"))
        .agg(F.sum("sdist").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def label_silhouette(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Centroid-based (simplified) silhouette of a labeled embedding
    space — how separable the classes are: per point, a = squared-L2
    to its OWN label centroid, b = min squared-L2 to any other
    centroid, s = (b − a)/max(a, b). Vectors quantize to the integer
    1e-6 grid and centroids round back onto it (the kmeans_quantized
    recipe), so a and b are exact integers and only s's one division
    rounds — per-point s quantizes to e6 BEFORE the per-label integer
    mean. Points with a = b = 0 (on a shared centroid) score 0.

    Emits (label, n, mean_sil_e6). 100 TB shape: one (label, dim)
    aggregate builds the k centroids; the k-row centroid broadcast ×
    partitioned corpus is the allowlisted O(n·k) sweep; one final
    label-keyed aggregate."""

    q = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0) & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("lbl"),
        F.transform(
            F.col(vec_col), lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("v"),
    )
    # posexplode_outer, NOT posexplode: InferFiltersFromGenerate turns a
    # plain explode of a COMPUTED array into a pushed-down
    # size(transform(...))>0 scan filter that re-runs the quantize
    # transform per row (r10 DUP_EXPR audit); the rule skips outer
    # generates, and dim IS NULL only for the empty/NULL arrays the
    # inner explode would have dropped — elements (even NULL-valued
    # ones) always carry a position, so semantics are identical
    dims = q.select("lbl", F.posexplode_outer("v").alias("dim", "val")).filter(
        F.col("dim").isNotNull()
    )
    cents = (
        dims.groupBy("lbl", "dim")
        .agg(F.floor(F.sum("val") / F.count("*") + F.lit(0.5)).cast("long").alias("cval"))
        .groupBy("lbl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))), lambda s: s["cval"]
            ).alias("cv")
        )
        .select(F.col("lbl").alias("clbl"), "cv")
    )
    pairs = q.crossJoin(F.broadcast(cents)).withColumn(
        "dist",
        F.aggregate(
            F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    per_point = pairs.groupBy("vid", "lbl").agg(
        F.min(F.when(F.col("clbl") == F.col("lbl"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("clbl") != F.col("lbl"), F.col("dist"))).alias("b"),
    )
    s = F.when(
        F.greatest(F.col("a"), F.col("b")) > 0,
        (F.col("b") - F.col("a")).cast("double")
        / F.greatest(F.col("a"), F.col("b")).cast("double"),
    ).otherwise(F.lit(0.0))
    scored = per_point.filter(F.col("b").isNotNull()).select(
        "lbl", F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("long").alias("s_e6")
    )
    return scored.groupBy(F.col("lbl").alias(label_col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(
            F.sum("s_e6").cast("double") / F.count(F.lit(1)).cast("double") + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_sil_e6"),
    )


def kcenter_select(
    corpus: DataFrame,
    *,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection — the
    classic 2-approximation (Gonzalez 1985) used to pick a maximally
    DIVERSE subset of an embedding corpus for labeling / eval / seed
    sets, where random sampling oversamples dense regions. Seed = the
    lowest id; each round adds the point maximizing its distance to the
    nearest already-chosen center. Returns k rows:
    (sel_order, id, maxmin_d2_e6) — the e6-quantized squared euclidean
    max-min distance at selection time (NULL for the seed).

    Determinism: d²(a, b) = a·a + b·b − 2·a·b with every dot a
    left-to-right fold (the LIST_DOT_PRODUCT tree), the argmax ranks
    the e6-FLOORED distance with lowest-id tiebreak over NOT-YET-CHOSEN
    points (duplicate vectors tie at d²=0 and must not re-select a
    chosen id) — so the whole greedy trajectory is engine-independent
    and the unrolled-CTE oracle hash-matches step for step. If k
    exceeds the corpus, selection stops at n rows.

    k <= 0 returns zero rows (a zero-size coreset has no seed).

    100 TB shape: k rounds × one map-side max-struct aggregate over the
    partitioned corpus, pinned once so the seed job and round 1
    re-read the filtered/cast frame instead of re-scanning source (the
    chosen set rides along as k literal vectors
    — never a join, never a collect of the corpus). Each round carries
    a running min-d² column forward through a lazy pin (r13), so the
    loop folds ONE new dot product per row per round — O(n·k) total
    distance work, not the O(n·k²) of rebuilding min-d² to every chosen
    center each round. k is small by construction (a coreset), so the
    k jobs are the honest cost. Each round's pin is a corpus copy;
    ``iterate`` holds at most two beside the corpus pin, and none
    once the call returns. Executor loss mid-loop fails the call unless
    a checkpoint dir is set (``sc.setCheckpointDir``), which makes the
    pins reliable."""
    from tada_spark.operators.layout import widen_narrow_scan

    # widen a narrow scan first (r12): the k argmax jobs each fold up
    # to k-1 dot products per row over the PINNED partitioning — a
    # single-split source would pin every round to one core
    pts = widen_narrow_scan(corpus.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    )).select(
        F.col(id_col).alias("__kid__"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__kv__"),
    )
    # a·a per row, folded ONCE into the pinned table (r12): the k
    # argmax rounds all reuse the identical left-to-right fold value,
    # so hoisting it out of the per-round expression is bit-neutral
    # (dot is deterministic) and removes one interpreted HOF fold per
    # center per row per round
    pts = pts.withColumn("__sd__", dot(F.col("__kv__"), F.col("__kv__")))
    spark = corpus.sparkSession
    # the id keeps ITS OWN type — hardcoding long crashed string ids
    # (CAST_INVALID_INPUT under ANSI) though the siblings accept any
    out_schema = T.StructType(
        [
            T.StructField("sel_order", T.IntegerType()),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("maxmin_d2_e6", T.LongType()),
        ]
    )
    if k <= 0:
        # a zero-size coreset is zero rows, not the seed row (r8 ADVICE)
        return local_frame(spark, out_schema, [[], [], []])
    # the filtered/cast corpus is re-scanned by every one of the k
    # argmax jobs — pin it once instead of recomputing from source k
    # times (r8 ADVICE); the result reads none of it, so the finally
    # unpins it, also when a mid-loop job fails
    pts = pin(pts)
    try:
        return _kcenter_greedy(spark, pts, k, out_schema)
    finally:
        unpin(pts)


def _kcenter_greedy(spark, pts: DataFrame, k: int, out_schema: T.StructType) -> DataFrame:
    seed_rows = pts.orderBy("__kid__").limit(1).collect()
    if not seed_rows:
        # empty corpus: zero rows, like the oracle's LIMIT 1 over
        # nothing — not a driver-side IndexError
        return local_frame(spark, out_schema, [[], [], []])
    first = seed_rows[0]
    chosen: list[tuple[int, list[float], int | None]] = [(first["__kid__"], list(first["__kv__"]), None)]

    def _lit_vec(vals: list[float]) -> Column:
        return F.array(*[F.lit(float(x)) for x in vals])

    v = F.col("__kv__")
    self_dot = F.col("__sd__")

    def _d2_to(cvec: list[float]) -> Column:
        cv = _lit_vec(cvec)
        # c·c is constant across rows: fold it on the driver with
        # the identical left-to-right IEEE recipe dot() uses (each
        # product and add correctly rounded), so the literal is
        # bit-identical to the in-plan fold it replaces
        cc = 0.0
        for x in cvec:
            cc = cc + float(x) * float(x)
        return self_dot + F.lit(cc) - F.lit(2.0) * dot(v, cv)

    # Incremental running min (r13, guide §1.2 step 1): round i used to
    # rebuild min-d² to ALL i chosen centers from scratch — Σi = k²/2
    # interpreted dot folds per row across the greedy loop. The running
    # __md__ column carries each row's min-d² to the chosen set forward
    # (min is associative under Spark's total double ordering, and the
    # e6 quantization happens AFTER the min, so least(md, d2_new) is
    # bit-identical to least(d2_0..d2_i)), cutting the loop to ONE new
    # dot fold per row per round — k²/2 → k folds, the dominant CPU
    # term at corpus scale. Each round's frame is a lazy pin that the
    # round's argmax job materializes: one (id, vec, sd, md) row PER
    # CORPUS ROW, a full corpus copy — cheap next to the i dot folds it
    # replaces. Chosen ids are filtered out cumulatively, one per round.
    def step(cur: DataFrame, i: int) -> DataFrame:
        d2_new = _d2_to(chosen[-1][1])
        md = F.least(F.col("__md__"), d2_new) if i else d2_new
        return cur.filter(F.col("__kid__") != F.lit(chosen[-1][0])).withColumn("__md__", md)

    def argmax(cur: DataFrame) -> bool:
        d2_e6 = F.floor(F.col("__md__") * F.lit(1e6) + F.lit(0.5)).cast("long")
        # argmax distance, tie → LOWEST id: min over (-d, id) — the
        # negation lives on the (always-numeric) distance, never the
        # id, so string ids order correctly too. On e6-floored ties
        # (duplicate vectors) the cumulative id filter in step keeps a
        # chosen point from re-selecting forever.
        rows = (
            cur.select(
                F.struct(
                    (-d2_e6).alias("nd"), F.col("__kid__").alias("id"), v.alias("vec")
                ).alias("s")
            )
            .agg(F.min("s").alias("s"))
            .select("s.nd", "s.id", "s.vec")
            .collect()
        )
        if not rows or rows[0]["id"] is None:
            return True  # k exceeds the corpus: stop at n selections
        chosen.append((rows[0]["id"], list(rows[0]["vec"]), -rows[0]["nd"]))
        return False

    cur, _ = iterate(pts, step, rounds=k - 1, until=argmax)
    # the result is built from driver-side literals: neither the last
    # round's pin nor the caller's pinned pts is read by it
    unpin(cur)
    return local_frame(
        spark,
        out_schema,
        [list(range(len(chosen))), [c[0] for c in chosen], [c[2] for c in chosen]],
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 4,
    pool: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity pass retrieval pipelines run on a relevance
    top-``pool``: greedily pick the candidate maximizing
    λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s) with λ = 0.7, so near-
    duplicate results stop crowding the top slots.

    Exact-integer determinism: similarities quantize to e6 integers
    (the cosine_topk convention) and the MMR objective is kept as the
    INTEGER numerator 7·rel_e6 − 3·maxsel_e6 (λ = 7/10; the /10 never
    happens — it cannot change an argmax). Ties break on the smaller
    candidate id. First pick: S is empty, the penalty term is 0, so
    step 1 is pure relevance — the standard MMR initialization.

    Scale shape: the relevance pool comes from cosine_topk (broadcast
    queries × partitioned corpus — the only corpus-sized work); the
    candidate-pair similarity table is n_queries × pool² rows, built
    by two id-equi-joins back to the corpus vectors; each of the k
    greedy steps is a bounded window-argmax over ≤ n_queries × pool
    rows. k and pool are constants — nothing here grows with the
    corpus beyond the initial scan.
    """
    if k < 1 or pool < k:
        raise ValueError(f"mmr_rerank: need 1 <= k <= pool, got k={k} pool={pool}")
    cands = cosine_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col).select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cos") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("rel_e6"),
    )
    cv = corpus.select(F.col(id_col).alias("__cid__"), F.col(vec_col).alias("__cvec__"))
    a = cands.select("query_id", F.col("neighbor_id").alias("id_a"))
    b = cands.select("query_id", F.col("neighbor_id").alias("id_b"))
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .join(cv.select(F.col("__cid__").alias("id_a"), F.col("__cvec__").alias("__va__")), "id_a")
        .join(cv.select(F.col("__cid__").alias("id_b"), F.col("__cvec__").alias("__vb__")), "id_b")
        .select(
            "query_id",
            "id_a",
            "id_b",
            F.floor(cosine(F.col("__va__"), F.col("__vb__")) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("sim_e6"),
        )
    )
    # pin the two BOUNDED pool tables (n_queries × pool and
    # n_queries × pool² rows): unpinned, every greedy step re-derives
    # them from scratch and the k-step plan re-scans the corpus ~k²
    # times (measured: 144 exchanges at k=4). The result is a LAZY plan
    # over them, so they are lazy pins; Spark frees them once the result
    # is dropped (tests/test_pin_lifetime.py).
    cands = pin(cands)
    pairs = pin(pairs)
    selected: DataFrame | None = None
    for step in range(1, k + 1):
        if selected is None:
            scored = cands.select(
                "query_id",
                "neighbor_id",
                (F.lit(7) * F.col("rel_e6")).alias("mmr_num"),
            )
        else:
            sel_ids = selected.select("query_id", F.col("sel_id").alias("neighbor_id"))
            remaining = cands.join(sel_ids, ["query_id", "neighbor_id"], "left_anti")
            maxsel = (
                pairs.join(
                    selected.select("query_id", F.col("sel_id").alias("id_b")),
                    ["query_id", "id_b"],
                )
                .groupBy("query_id", "id_a")
                .agg(F.max("sim_e6").alias("maxsel_e6"))
            )
            scored = remaining.join(
                maxsel,
                (remaining["query_id"] == maxsel["query_id"])
                & (remaining["neighbor_id"] == maxsel["id_a"]),
            ).select(
                remaining["query_id"],
                "neighbor_id",
                (F.lit(7) * F.col("rel_e6") - F.lit(3) * F.col("maxsel_e6")).alias("mmr_num"),
            )
        w = Window.partitionBy("query_id").orderBy(
            F.col("mmr_num").desc(), F.col("neighbor_id").asc()
        )
        pick = (
            scored.withColumn("__rk__", F.row_number().over(w))
            .filter(F.col("__rk__") == 1)
            .select(
                "query_id",
                F.col("neighbor_id").alias("sel_id"),
                F.lit(step).alias("step"),
                "mmr_num",
            )
            # each pick (n_queries rows) is pinned too: step i's plan
            # references every earlier pick, so unpinned picks nest
            # copies of all prior window chains — plan size goes
            # exponential in k (197 exchanges at k=4)
        )
        pick = pin(pick)
        selected = pick if selected is None else selected.unionByName(pick)
    return selected
