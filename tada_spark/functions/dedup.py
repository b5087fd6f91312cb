"""Document deduplication at scale.

Four tiers, cheapest first — the standard large-corpus pipeline:

1. exact       — fingerprint groupBy (one shuffle on a 32-char key).
2. minhash_lsh — MinHash signatures + banded LSH: near-dup candidate
                 pairs WITHOUT the O(n²) cross join. Shuffle volume is
                 (n_docs × n_bands) band-key rows; each band bucket
                 joins only within itself. The 100 TB workhorse.
3. simhash     — 64-bit fingerprint whose Hamming distance tracks
                 cosine similarity of token sets; banded by 16-bit
                 chunks for candidate generation.
4. ngram_jaccard — exact verification on candidate pairs (or small
                 blocked sets): character-shingle Jaccard.

Everything is Column-expression / join algebra — no UDFs — except the
driver finishes of jaccard_pairs and connected_components. Both follow
one size rule, plans/semantics.collect_small: when the operator's input
fits under spark.sql.autoBroadcastJoinThreshold (a row cap of the
threshold over Spark's row-size estimate, and the threshold in Arrow
bytes) it is collected as Arrow in one bounded pass and finished in
Python/numpy on the driver, with no Python workers and the same rows
and schema as the distributed plan; jaccard_pairs also holds its
Python working set (shingle sets, candidate and output pairs) to the
threshold. Above a cap that one bounded collect is wasted and the
distributed plan runs. A threshold <= 0
disables both driver paths. Oracle-checked ops (exact, jaccard) use md5
so the DuckDB twin computes identical values; MinHash uses JVM-native
xxhash64 (rows-only check) for speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tada_spark.functions.text import char_shingles, fingerprint, word_shingles
from tada_spark.plans.semantics import broadcast_limit, collect_small, iterate, pin, round_det, unpin
from tada_spark.session import local_frame


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per normalized-text fingerprint.
    One hash-aggregate shuffle on the 128-bit key; fully scalable.

    A NULL text has no fingerprint and must not form a group (every
    NULL-text doc would collapse into one fp=NULL group and the
    keep-min rule would delete unrelated docs as "duplicates"). The
    guard filters the RAW column: fingerprint() is NULL iff text is
    NULL (md5/trim/regexp of non-null is non-null), so this is
    equivalent to fp.isNotNull() — but the raw-column predicate is
    free at the scan, whereas a computed-column null filter gets
    pushed down as isnotnull(md5(regexp_replace(...))) and evaluates
    the fingerprint TWICE per row (plan-confirmed, bench-measured).
    """
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


_MAX_LONG = (1 << 63) - 1


def minhash_signature(col: Column, num_hashes: int = 16, shingle_words: int = 3) -> Column:
    """MinHash signature: array<long> of length num_hashes.

    All num_hashes minima are computed in a SINGLE aggregate pass over
    the shingle array, with xxhash64(seed_i, shingle) as the hash family
    — JVM-native, codegen'd, no md5/regex cost, ANSI-safe (no wrapping
    arithmetic). The shingle array expression is evaluated once
    regardless of num_hashes (immune to projection-collapse duplication).
    Deterministic across executors and runs (fixed seeds).
    """
    init = F.array(*[F.lit(_MAX_LONG).cast("long")] * num_hashes)

    def step(acc: Column, s: Column) -> Column:
        return F.array(
            *[
                F.least(F.element_at(acc, i + 1), F.xxhash64(F.lit(i), s))
                for i in range(num_hashes)
            ]
        )

    # empty/whitespace-only docs: word_shingles yields NULL, aggregate
    # propagates it ⇒ NULL signature, matching the long-form
    # minhash_signatures path which drops such docs (otherwise every
    # empty doc would share the all-MAX_LONG init signature and collide
    # as LSH candidates). Single evaluation of the shingle expression —
    # a size() guard here would compute it twice per row.
    return F.aggregate(word_shingles(col, shingle_words), init, step)


def _minhash_hash(seed: int, s: Column, family: str) -> Column:
    """One member of the minhash hash family applied to shingle ``s``.

    'xxhash64' (default) is JVM-native and codegen'd — the production
    path. 'md5' derives a 32-bit value from the md5 hex prefix with the
    exact idiom DuckDB replicates (('0x'||md5(seed||'#'||s)[1:8])::
    BIGINT — same as functions/sampling), so an md5-family minhash run
    is fully ORACLE-CHECKABLE, upgrading LSH verification from
    rows-only to hash-matched. ~3× slower; use for verification tiers,
    not the 100 TB hot path."""
    if family == "xxhash64":
        return F.xxhash64(F.lit(seed), s)
    if family == "md5":
        from tada_spark.functions.text import md5_hash32

        return md5_hash32(F.concat(F.lit(f"{seed}#"), s))
    raise ValueError(f"unknown minhash hash family: {family}")


def _shingle_stream(
    df: DataFrame, text_col: str, id_col: str, shingle_words: int
) -> DataFrame:
    """The exploded (id, shingle-string) stream both minhash families
    consume — factored (r12) so classic and one-permutation minhash
    shingle IDENTICALLY by construction.

    Shingles via arrays_zip of shifted slices — pure codegen-able
    expressions (a transform() lambda here runs interpreted and is
    ~1.5× slower); duplicates need no array_distinct since min() is
    duplicate-insensitive. ONE scan, ONE projection, ONE explode:
    the per-doc shingle array is built in a single CASE expression —
    blank/NULL text → empty array (doc drops out), short docs
    (< shingle_words tokens) → their single partial-head shingle,
    else slice(zip, 1, sz - w + 1) keeps exactly the complete
    shingles (the zip's last w-1 entries are the null-padded tails
    the old post-explode filter removed). A prior revision unioned a
    SECOND full read of df for the short-doc branch — at 100 TB a
    duplicate scan of the text column dominates everything else here.

    The doc stream is widened to cluster parallelism first (r12,
    operators/layout.widen_narrow_scan): the tokenize + zip + explode +
    per-shingle hashing above the signatures' first shuffle is the
    minhash families' CPU floor and otherwise runs serially on a
    narrow (single-split) scan; on wide inputs the widen is a no-op.
    """
    from tada_spark.operators.layout import widen_narrow_scan

    df = widen_narrow_scan(df)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    sz = F.size(toks)
    parts = [toks] + [
        F.slice(toks, i + 1, F.greatest(sz - i, F.lit(0))) for i in range(1, shingle_words)
    ]
    zipped = F.arrays_zip(*parts)
    # struct field names must match arrays_zip's "0".."w-1" so the CASE
    # branches share one type; concat_ws skips the NULL pad fields
    short_struct = F.struct(
        F.concat_ws(" ", toks).alias("0"),
        *[F.lit(None).cast("string").alias(str(i)) for i in range(1, shingle_words)],
    )
    shingle_arr = (
        F.when(
            F.coalesce(F.length(F.trim(F.col(text_col))), F.lit(0)) == 0,
            F.slice(zipped, 1, 0),
        )
        .when(sz < shingle_words, F.array(short_struct))
        .otherwise(F.slice(zipped, 1, sz - (shingle_words - 1)))
    )
    return df.select(F.col(id_col), F.explode(shingle_arr).alias("z")).select(
        id_col, F.concat_ws(" ", *[F.col(f"z.{i}") for i in range(shingle_words)]).alias("s")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    shingle_words: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures via explode → hash → groupBy-min.

    This is the codegen-friendly (and 100 TB-correct) shape: the
    explode feeds a HashAggregate whose MAP-SIDE partial min compresses
    each partition to ~n_docs × num_hashes values before the single
    shuffle on doc id — shuffle volume is independent of document
    length. ~5× faster than a higher-order-function aggregate, which
    runs interpreted. Docs with no shingles (empty text) drop out.
    Output: (id, h0..h{n-1}).

    Blank-doc convention (pinned since r10's single-scan rewrite, for
    EVERY shingle_words including 1): NULL, empty, or whitespace-only
    text produces NO signature row — the doc cannot be a near-dup
    candidate of anything. Before r10, shingle_words=1 emitted a
    single empty-string shingle for blank docs (an accidental
    signature that could pair all blank docs together); the CASE's
    blank branch now drops them, matching word_shingles' blank→no-
    shingle convention. Pinned by tests/test_r11_ops.py.
    """
    sh = _shingle_stream(df, text_col, id_col, shingle_words)
    return sh.groupBy(id_col).agg(
        *[
            F.min(_minhash_hash(i, F.col("s"), hash_family)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    max_bucket: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH.

    signatures → explode(bands) → bucket-grouped combination expansion
    → distinct pairs. No O(n²) cross join: pairs only form inside a
    band bucket (see _banded_pairs — one grouped pass, no self-join).
    Skewed buckets (boilerplate docs) are the classic hazard —
    ``max_bucket`` drops degenerate buckets outright (a bucket of m
    docs yields m² comparisons; at m = 10⁵ boilerplate docs that is
    10¹⁰ pairs nobody wants — such groups are better handled by exact
    dedup first). Since the r12 grouped rewrite the guard is a free
    size() filter on the collected bucket — no extra aggregate, no
    anti-join.
    """
    sig = minhash_signatures(
        df, text_col, id_col,
        num_hashes=num_hashes, shingle_words=shingle_words, hash_family=hash_family,
    )
    return _banded_pairs(sig, id_col, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket)


def _banded_pairs(
    sig: DataFrame,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    max_bucket: int | None,
) -> DataFrame:
    """Banded LSH candidate pairing over a (id, h0..h{n-1}) signature
    table — shared by classic and one-permutation minhash (r12 factor;
    the banding/bucket-join/skew-guard algebra is family-agnostic).
    Owns the bands validation too (r12 review: both wrappers carried
    hand-copied checks that had already drifted — the classic copy
    lacked the bands<=0 guard).

    r12: pairing is a grouped COMBINATION EXPANSION, not a self-join.
    Context (measured, OPTIMIZATION_r12.md): AQE DOES reuse the map
    stage of the old self-join's two canonically identical banded
    exchanges, so the signature pipeline already ran once — the r11
    comment here was right about that, and wall-clock is a measured
    TIE between both shapes at sf0.1 and on a 64-partition
    core-saturated synthetic. The grouped form is kept because the
    plan is strictly smaller: one banded subtree instead of two, one
    shuffle read instead of two, and the ``max_bucket`` skew guard
    becomes a free size() filter on the collected bucket (previously a
    whole count-aggregate + broadcast anti-join). Per-bucket state is
    |bucket| ids (longs), the same m the join's per-bucket hash
    relation held; the m² candidate blowup of a degenerate bucket
    exists in either shape and is what ``max_bucket`` caps."""
    if bands <= 0 or num_hashes % bands != 0:
        # a silent remainder would drop trailing hashes (recall loss);
        # bands > num_hashes would give empty band keys and degenerate
        # the bucket join into a full cross join
        raise ValueError(f"banded LSH: bands={bands} must divide num_hashes={num_hashes}")
    rows_per_band = num_hashes // bands
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[F.col(f"h{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # ONE shuffle on (band, key) collects each bucket's member ids;
    # array_sort makes the bucket order deterministic under any
    # partitioning (collect_list alone is partition-order-dependent)
    # and lets the i<j slice emit each unordered pair exactly once with
    # id_a < id_b — the same pair set the old a.id < b.id join built.
    # Explicit repartition (r12, guide §2.3): AQE coalesces the bucket
    # shuffle by BYTES, and the banded key stream is tiny — measured at
    # sf0.1 the whole m² combination expansion ran on ONE task. A
    # user-specified repartition on the same keys satisfies the
    # aggregate's distribution (no extra exchange) and AQE never
    # shrinks it, so expansion work keeps bucket-level parallelism.
    par = max(int(sig.sparkSession.sparkContext.defaultParallelism), 1)
    grouped = (
        banded.repartition(par, "band", "key")
        .groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    # two-level streaming expansion (r13, advice fix): the r12 form
    # built the bucket's ENTIRE m(m−1)/2 pair array as one flatten'd
    # cell before explode — a hot bucket (boilerplate docs) makes that
    # a multi-GB single value and trips the 2^31 array-length limit.
    # posexplode + per-anchor tail slice emits the identical i<j pair
    # stream through two pipelined Generates; the largest single value
    # anywhere is one bucket's id array (m longs), the same state the
    # collect_list already held.
    return (
        grouped.select("ids", F.posexplode("ids").alias("__i__", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(
                    F.col("ids"),
                    F.col("__i__") + F.lit(2),
                    F.size("ids") - F.col("__i__") - F.lit(1),
                )
            ).alias("id_b"),
        )
        .distinct()
    )


# Spark's defaultSize of each id type the driver paths take. Other id
# types (floats, decimals, dates, timestamps, binary) take the
# distributed plans: their NaN/-0.0 equality and Arrow time-zone round
# trip are not held to the join's semantics here.
_ID_BYTES = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8, "string": 20}


def _components_on_driver(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> DataFrame | None:
    """connected_components on the driver, or None if the pair list does
    not fit under the broadcast limit (``collect_small``'s rule).

    The rounds are the distributed loop's, in numpy over id ranks
    (sorted unique ids, so the min rank is the min id). A NULL id is a
    node of its own whose label stays NULL: no join ever matches it, so
    no label flows through it. The labels go back through an Arrow
    table, never a Python RDD."""
    sel = pairs.select(F.col(id_a), F.col(id_b))
    fa, fb = sel.schema.fields
    if fa.dataType.simpleString() not in _ID_BYTES or fa.dataType != fb.dataType:
        return None
    table = collect_small(sel)
    if table is None:
        return None

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    ids = pa.concat_arrays([c.combine_chunks() for c in table.columns])
    nodes = pc.drop_null(pc.unique(ids))
    nodes = nodes.take(pc.sort_indices(nodes))
    rank = pc.index_in(ids, value_set=nodes).fill_null(-1).to_numpy()
    src, dst = rank[: table.num_rows], rank[table.num_rows :]
    both = (src >= 0) & (dst >= 0)
    src, dst = src[both], dst[both]
    label = np.arange(len(nodes))
    for _ in range(max_iter):
        # each edge both ways: every node takes the min of its own label
        # and its neighbours' labels from the previous round
        new = label.copy()
        np.minimum.at(new, dst, label[src])
        np.minimum.at(new, src, label[dst])
        if (new == label).all():
            break
        label = new
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} iters")
    comp = nodes.take(pa.array(label))
    if ids.null_count:
        nodes, comp = (pa.concat_arrays([x, pa.nulls(1, x.type)]) for x in (nodes, comp))
    # the loop's output schema: every column is nullable iff an id is
    nullable = fa.nullable or fb.nullable
    schema = T.StructType(
        [
            T.StructField("node", fa.dataType, nullable),
            T.StructField("component", fa.dataType, nullable),
            T.StructField("keep", T.BooleanType(), nullable),
        ]
    )
    return local_frame(pairs.sparkSession, schema, [nodes, comp, pc.equal(nodes, comp)])


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: the clustering step
    between candidate generation (LSH) and canonical-doc selection —
    every doc in a component keeps `component` = the min doc id, so
    `keep = (node = component)` dedupes whole clusters, not just pairs
    (pairwise keep-min deletes BOTH b and c for a chain a-b, b-c).

    Iterative min-label propagation (the GraphX/Pregel scheme): each
    round every node takes the min label in its closed neighborhood;
    rounds = graph diameter, which for near-dup clusters is small (they
    are dense blobs, not paths). It runs on one of two paths, with the
    same output (rows and schema), the same rounds and the same
    `max_iter` meaning on both: at most `max_iter` rounds, and a
    RuntimeError if labels still changed in the last one.

    Driver path: when the pair list fits under the broadcast limit
    (``collect_small``: spark.sql.autoBroadcastJoinThreshold bytes over
    Spark's estimate of one pair row, and at most the threshold in
    Arrow bytes) it is collected as Arrow in one bounded pass and the
    rounds run in numpy (see _components_on_driver). A near-dup graph
    is tiny next to its corpus: near_dup_components at sf0.01 (114
    pairs, 60 nodes, 4 rounds) builds in 2 jobs and no checkpoint with
    jaccard_pairs on its driver path too, 9 jobs and 2 checkpoints over
    the distributed jaccard_pairs, and 35 jobs and 7 checkpoints
    through the loop below. A threshold <= 0
    disables this path, as it disables broadcast joins; integer and
    string ids only. Above the cap the bounded collect is one wasted
    pass over the pair plan before the loop starts.

    Distributed path, for larger edge sets, in DataFrame algebra: each
    round is one shuffle over the edge list plus a label join, run by
    ``iterate``: it holds the edge pin and at most two rounds' pins,
    the result holds the last round's pin, and a raise holds nothing.
    The changed flag is computed IN the label pass (nmin < label), so
    the count of changed labels is the round's one action and
    materializes its lazy pin: ONE job per round, O(diameter) in all.
    Against a checkpoint job plus a compare-join job per round, at
    sf0.1 (1.5k-node near-dup graph, 5 rounds): iteration 6.0 → 2.9 s,
    rounds 0.95-1.3 → 0.42-0.6 s. (Pointer jumping was
    tried and rejected: near-dup components are dense blobs, the round
    count didn't drop and the label-of-label join made rounds slower.)
    """
    small = _components_on_driver(pairs, id_a, id_b, max_iter)
    if small is not None:
        return small
    # undirected: propagate both ways
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.union(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct()
    edges = pin(edges)

    def step(labels: DataFrame, _: int) -> DataFrame:
        # min neighbor label per node, then min with own label
        neigh = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nmin"))
        )
        return labels.join(neigh, "node", "left").select(
            "node",
            F.least("label", "nmin").alias("label"),
            # label shrank iff some neighbor's label beat ours; NULL
            # nmin (isolated this round) compares NULL → dropped by the
            # convergence filter, i.e. unchanged
            (F.col("nmin") < F.col("label")).alias("__chg__"),
        )

    try:
        labels, converged = iterate(
            edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node")),
            step,
            rounds=max_iter,
            until=lambda labels: labels.filter(F.col("__chg__")).count() == 0,
        )
        if not converged:
            unpin(labels)
            raise RuntimeError(f"connected_components: no convergence in {max_iter} iters")
    finally:
        unpin(edges)
    return labels.select(
        F.col("node"),
        F.col("label").alias("component"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


def simhash(col: Column, num_bits: int = 64, hash_family: str = "xxhash64") -> Column:
    """SimHash over whitespace tokens: bit b of the fingerprint is the
    majority vote of bit b across token hashes. Column-only construction:
    sum per bit of ±1 via aggregate over the token array.

    hash_family='md5' (use with num_bits=32) derives token hashes with
    the DuckDB-replicable idiom so the fingerprint is oracle-checkable;
    xxhash64/64-bit is the production configuration."""
    def mask(b: int) -> int:
        # bit 63 of a signed long has mask -(1<<63)
        return (1 << b) if b < 63 else -(1 << 63)

    toks = F.array_distinct(F.split(F.lower(F.trim(col)), r"\s+"))
    # one hash per token (element of the aggregate), then a SINGLE
    # pass accumulating all num_bits votes — not num_bits passes
    if hash_family == "md5":
        from tada_spark.functions.text import md5_hash32

        hashes = F.transform(toks, md5_hash32)
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    init = F.array(*[F.lit(0)] * num_bits)

    def step(acc: Column, h: Column) -> Column:
        return F.array(
            *[
                F.element_at(acc, b + 1)
                + F.when(h.bitwiseAND(F.lit(mask(b))) != 0, 1).otherwise(-1)
                for b in range(num_bits)
            ]
        )

    def finish(acc: Column) -> Column:
        out: Column = F.lit(0).cast("long")
        for b in range(num_bits):
            out = out + F.when(F.element_at(acc, b + 1) > 0, F.lit(mask(b)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return out

    # empty/whitespace-only/NULL text → NULL fingerprint (the
    # word_shingles convention): hashing the phantom [''] token gave
    # every blank doc ONE shared fingerprint, and m blank docs became
    # m² candidate pairs in the band join — the collision class the
    # minhash path already guards against
    return F.when(F.length(F.trim(col)) > 0, F.aggregate(hashes, init, step, finish))


def simhash_bands(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, chunk_bits: int = 16) -> DataFrame:
    """Candidate pairs whose 64-bit simhash matches on ≥1 of the 16-bit
    chunks (Hamming ≤ 3 guarantee within 4 chunks). Blank/NULL docs
    carry a NULL simhash and generate no candidates."""
    n_chunks = 64 // chunk_bits
    # simhash() is NULL exactly when text is NULL or blank — guard on
    # the RAW column so the (cheap) predicate pushes to the scan. A
    # sh.isNotNull() filter instead gets pushed down as
    # isnotnull(aggregate(transform(...xxhash64...))) and evaluates the
    # full 64-bit fold TWICE per row on EACH side of the self-join
    # (plan-confirmed). Without the guard, every blank doc shares ONE
    # fingerprint and m blank docs become m² candidate pairs.
    # the coalesce is a semantic no-op (under the non-blank filter the
    # simhash CASE always takes its aggregate branch, which never
    # yields NULL) but makes sh provably non-nullable, so the
    # IsNotNull(band-key) constraint Catalyst infers from the self-join
    # folds to TRUE instead of being pushed through the Project as a
    # SECOND full fold evaluation per row per side (plan-confirmed).
    # widen first (r12): the 64-bit vote fold (xxhash64 per token +
    # 64-lane majority) is this operator's CPU floor and runs above
    # the scan, before any shuffle — serial on a single-split input.
    from tada_spark.operators.layout import widen_narrow_scan

    df = widen_narrow_scan(df)
    # r12 vote-aggregate form: simhash() folds a 64-lane array
    # accumulator through an interpreted HOF per row (measured 14
    # executor-core-seconds for 5k docs, ~3 ms/doc) and its expression
    # tree dominates driver plan time. The identical votes come out of
    # explode(distinct tokens) → ONE codegen'd HashAggregate with 64
    # ±1 sums per doc (map-side combined; integer sums are order-free,
    # so this is bit-identical to the fold), then the same majority
    # finish. simhash() itself is unchanged — it remains the column
    # form for single-expression callers (md5/32-bit oracle twin).
    # r13: the 64 vote lanes and the 64-term majority finish are built
    # as SQL STRINGS (one JVM parse per expression) instead of ~900
    # py4j column-operator round trips — the r12 "driver-side planning
    # tail" was measured this round to be PYTHON-side tree
    # construction (2.2 s of the 4.6 s steady state; Catalyst
    # analysis+planning itself is 0.12 s), so shrinking the py4j
    # chatter, not the algebra, is the fix. The parsed expressions are
    # the identical CASE WHEN / sum forms as before
    # (shiftleft(1L, b) == the old mask literal for every b incl. 63),
    # so the logical plan and the emitted pairs are unchanged.
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    votes = (
        df.filter(F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0))
        .select(F.col(id_col), F.explode(toks).alias("__tok__"))
        .select(id_col, F.xxhash64("__tok__").alias("__h__"))
        .groupBy(id_col)
        .agg(
            *[
                F.expr(
                    f"sum(CASE WHEN (__h__ & shiftleft(CAST(1 AS BIGINT), {b})) != 0 "
                    f"THEN 1 ELSE -1 END) AS __v{b}__"
                )
                for b in range(64)
            ]
        )
    )
    fp: Column = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"CASE WHEN __v{b}__ > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
            "ELSE CAST(0 AS BIGINT) END"
            for b in range(64)
        )
    )
    # the coalesce is a semantic no-op (every group has >= 1 token, so
    # no vote sum is NULL) but keeps sh provably non-nullable — the
    # same constraint-folding posture as before
    sh = votes.select(id_col, F.coalesce(fp, F.lit(0).cast("long")).alias("sh"))
    banded = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sh"), c * chunk_bits).bitwiseAND(F.lit((1 << chunk_bits) - 1)).alias("key"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "sh", F.col("bk.chunk").alias("chunk"), F.col("bk.key").alias("key"))
    # grouped combination expansion, not a self-join (r12, see
    # _banded_pairs: wall-clock tie vs the reused-exchange self-join,
    # kept for the strictly smaller plan — one banded subtree, one
    # shuffle read). One shuffle on (chunk, key) collects each
    # bucket's (id, sh) members; the sorted i<j slice emits the same
    # id_a < id_b pair set with the hamming distance computed from the
    # carried fingerprints. Per-bucket state is |bucket| (long, long)
    # structs — what the join's per-bucket hash relation held anyway.
    # explicit repartition before the bucket agg — same AQE-coalesce
    # blindness as _banded_pairs: the 1M-pair combination expansion ran
    # on ONE task at sf0.1 (2.7 s serial) because the banded stream is
    # small in BYTES
    par = max(int(df.sparkSession.sparkContext.defaultParallelism), 1)
    grouped = (
        banded.repartition(par, "chunk", "key")
        .groupBy("chunk", "key")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("sh").alias("s")))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    # two-level streaming expansion (r13): same fix as _banded_pairs —
    # never materialize the bucket's m²/2 pair array as one value; the
    # anchor row and its i<j tail slice stream through two Generates
    # and the hamming distance is computed per emitted pair.
    return (
        grouped.select("ms", F.posexplode("ms").alias("__i__", "__a__"))
        .select(
            "__a__",
            F.explode(
                F.slice(
                    F.col("ms"),
                    F.col("__i__") + F.lit(2),
                    F.size("ms") - F.col("__i__") - F.lit(1),
                )
            ).alias("__b__"),
        )
        .select(
            F.col("__a__.i").alias("id_a"),
            F.col("__b__.i").alias("id_b"),
            F.bit_count(
                F.col("__a__.s").bitwiseXOR(F.col("__b__.s"))
            ).alias("hamming"),
        )
        .distinct()
    )


# Estimated Python heap of one shingle in a frozenset, before its 4
# bytes per code point: a str header (76 bytes for non-ASCII text) and
# its set slot. Measured on CPython 3.11 over sf0.1 docs, random ASCII
# and random CJK text: 80-119 bytes per distinct 3- to 8-gram, against
# 124-144 estimated.
_SHINGLE_BYTES = 112


def _jaccard_on_driver(
    docs: DataFrame, ngram: int, threshold: float
) -> DataFrame | None:
    """jaccard_pairs on the driver, or None if its working set does not
    fit under the broadcast limit. Four checks, each before the work it
    bounds: the docs (the null-free jid, *blocks, __txt__ frame) fit
    ``collect_small``'s rule; the distinct texts' shingle sets, at
    ``_SHINGLE_BYTES + 4 × ngram`` bytes per shingle, fit the limit; the
    candidate rep pairs, Σ n_b(n_b−1)/2 over each block's distinct
    texts, plus the intra-group pairs, Σ m_g(m_g−1)/2 over each exact
    duplicate group's members, fit it at 8 + 2 × the id width bytes per
    pair (the limit connected_components' driver path puts on its own
    input); and, while rep pairs expand to member pairs, the output rows
    do too. Integer and string ids and block values only (``_ID_BYTES``).

    The steps are the distributed plan's, in Python: exact duplicates
    collapse on (block, text) to the min member id; shingle sets are
    frozensets of ``text[i:i+n]`` over code points, which is Spark's
    length/substring; the size-ratio prefilter, the floor-e6 rounding
    and the threshold filter are the same IEEE operations on the same
    integers; rep pairs expand to member pairs with least/greatest, and
    intra-group pairs are 1.0 unless ``threshold > 1.0``."""
    import math

    import pyarrow.compute as pc
    from pyspark.sql import types as T

    fid, *fblocks, ftxt = docs.schema.fields
    if (
        ngram < 1
        or ftxt.dataType != T.StringType()
        or any(f.dataType.simpleString() not in _ID_BYTES for f in (fid, *fblocks))
    ):
        return None
    table = collect_small(docs)
    if table is None:
        return None
    limit = broadcast_limit(docs.sparkSession)
    # one row per (block, text): exact duplicates share one shingle set
    keys = table.column_names[1:]
    groups = table.group_by(keys).aggregate([("jid", "list")]).select([*keys, "jid_list"])
    n_shingles = pc.sum(
        pc.max_element_wise(pc.subtract(pc.utf8_length(groups["__txt__"]), ngram - 1), 1)
    ).as_py() or 0
    if n_shingles * (_SHINGLE_BYTES + 4 * ngram) > limit:
        return None
    intra = not threshold > 1.0
    blocks: dict[tuple, list] = {}
    n_intra = 0
    for *block, text, members in zip(*(c.to_pylist() for c in groups.columns)):
        blocks.setdefault(tuple(block), []).append((text, sorted(members)))
        n_intra += len(members) * (len(members) - 1) // 2 if intra else 0
    n_pairs = sum(len(reps) * (len(reps) - 1) // 2 for reps in blocks.values())
    cap = limit // (8 + 2 * _ID_BYTES[fid.dataType.simpleString()])
    if n_pairs + n_intra > cap:
        return None
    lo = float(threshold) - 1e-6
    ids_a, ids_b, jac = [], [], []
    n_cross = 0
    for reps in blocks.values():
        # sorted by size, a set's prefilter partners are a run of its
        # smaller neighbours: walk down until the size ratio fails
        sets = sorted(
            (
                (frozenset(t[i : i + ngram] for i in range(max(len(t) - ngram + 1, 1))), m)
                for t, m in reps
            ),
            key=lambda sm: len(sm[0]),
        )
        for i, (sb, mb) in enumerate(sets):
            nb = len(sb)
            for k in range(i - 1, -1, -1):
                sa, ma = sets[k]
                na = len(sa)
                if na < lo * nb:
                    break
                if ma[0] == mb[0]:
                    # equal rep ids never pass the join's a.jid < b.jid
                    continue
                inter = len(sa & sb)
                j = math.floor(inter / (na + nb - inter) * 1e6 + 0.5) / 1e6
                if j >= threshold:
                    n_cross += len(ma) * len(mb)
                    if n_cross + n_intra > cap:
                        return None
                    for x in ma:
                        for y in mb:
                            ids_a.append(min(x, y))
                            ids_b.append(max(x, y))
                            jac.append(j)
            if intra:
                for p, x in enumerate(mb):
                    for y in mb[p + 1 :]:
                        if x < y:
                            ids_a.append(x)
                            ids_b.append(y)
                            jac.append(1.0)
    schema = T.StructType(
        [
            T.StructField("id_a", fid.dataType, fid.nullable),
            T.StructField("id_b", fid.dataType, fid.nullable),
            T.StructField("jaccard", T.DoubleType(), True),
        ]
    )
    return local_frame(docs.sparkSession, schema, [ids_a, ids_b, jac])


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    block_cols: list[str] | None = None,
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Character-n-gram Jaccard similarity over blocked pairs.

    ``block_cols`` bounds the quadratic blowup: pairs form only within a
    block (e.g. same lang + length bucket). At 100 TB you never run this
    un-blocked — it's the verification stage after LSH candidates.

    Exact duplicates collapse BEFORE the pairwise stage: identical text
    means an identical shingle set, so a (block, text-fingerprint)
    group contributes ONE representative to the quadratic verify and
    its pairs expand back to members afterwards (cross-group pairs
    inherit the representative pair's jaccard; intra-group pairs are
    exactly 1.0 — char_shingles maps even empty text to [''], so
    same-text jaccard is always defined). The output is row-for-row
    identical to naive all-pairs, but the array-intersect work drops
    from Σ cluster² to distinct-text pairs — the measured failure mode
    on replica/crawl corpora (sf1-replica: >9 min naive, where every
    duplicate cluster is 10× larger) disappears inside the operator
    instead of relying on callers to order an exact-dedup stage first.
    Null text, null ids and null block values drop up front: the naive
    join's id inequality and block equality are NULL-false, so such
    docs never paired there either — and keeping them would let the
    NULL-grouping window fabricate pairs the oracle never emits.

    Driver path: when the null-free docs fit under the broadcast limit
    (``collect_small``) and so does the driver's working set — the
    distinct texts' shingle sets, the candidate rep pairs plus the
    intra-group pairs, and the output rows, each at an estimated size
    per item (see _jaccard_on_driver) — the docs are collected as Arrow
    in one bounded pass and the pairs are verified in Python, with the
    distributed plan's rows and schema. Integer and string ids and
    block values only; a threshold <= 0 disables the path. Above any
    cap the bounded collect, and whatever Python work ran before the
    cap was seen, is wasted before the distributed plan below runs. At
    sf0.01 near_dup_components verifies 100 docs (1,230 candidate rep
    pairs) this way in one collect, where the distributed plan ran 9
    jobs and 2 pins.
    """
    from pyspark.sql.window import Window

    blocks = list(block_cols or [])
    # drop null ids and null block values up front: naive all-pairs'
    # a.id < b.id and a.block = b.block are both NULL-false, so such
    # docs never pair there — but the window partition groups NULLs
    # TOGETHER and least/greatest skip NULL ids, which would fabricate
    # pairs (even degenerate self-pairs) the oracle never emits
    keep = F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    for c in blocks:
        keep = keep & F.col(c).isNotNull()
    docs = df.filter(keep).select(
        F.col(id_col).alias("jid"),
        *[F.col(c) for c in blocks],
        F.col(text_col).alias("__txt__"),
    )
    small = _jaccard_on_driver(docs, ngram, threshold)
    if small is not None:
        return small
    grp = Window.partitionBy(*blocks, F.md5(F.col("__txt__")))
    # staged (r12): the rep-window table feeds SIX subtrees (both join
    # sides via sh, ma/mb member expansion, m1/m2 intra pairs). AQE
    # reuses only the map side of the window's partition exchange;
    # each consumer re-evaluates the window function and the
    # projections above it, and iterative consumers
    # (connected_components) re-derive the whole lineage per round.
    # Two lazy pins hold the window output and the shingle table once
    # per invocation. Measured at sf0.1: jaccard alone
    # 25.6→24.2 s (intersects dominate), but near_dup_components —
    # which iterates over this plan — dropped 43.3→27.8 s (−36%)
    # (OPTIMIZATION_r12.md).
    docs = pin(docs.withColumn("rep", F.min("jid").over(grp)))
    members = docs.select("jid", "rep")
    spark = df.sparkSession
    par = max(int(spark.sparkContext.defaultParallelism), 1)
    # explicit repartition BEFORE the shingle fold (r12, guide §2.1):
    # the checkpointed rep table materializes with the AQE-coalesced
    # window partitioning (ONE partition at sf0.1), so without this the
    # char-shingle explode+distinct — the family's CPU floor — and the
    # salt-replicated exchange write both ran single-task (measured:
    # ~4 s of serial stages ahead of the pair join)
    import os as _os

    # Two-tier (size-aware) salting (r13, verdict item 4 / guide §2.5):
    # the r12 blanket salt replicated EVERY a-side rep row ×S even when
    # a block was too small to need spreading — up to 256× one side's
    # shuffle bytes on a big cluster for no parallelism gain. The salt
    # factor is now PER BLOCK, derived from the block's rep count (one
    # tiny broadcast-joined aggregate over the already-staged rep
    # table): a block with p = cnt·(cnt−1)/2 candidate pairs gets
    # S_b = clamp(ceil(p / pairs_per_cell), 1, cap) salt cells, so cold
    # blocks degenerate to the unsalted join (S_b = 1, no replication)
    # while hot blocks spread their quadratic intersect CPU over up to
    # ``cap`` tasks. pairs_per_cell = 4096 reproduces the r12 behaviour
    # on the hot sf0.1 blocks (~1k reps/block → S_b ≈ 122 ≈ the old
    # 4×32); TADA_JACCARD_SALT forces one constant factor for every
    # block. Correctness is salt-invariant: both sides of a pair share
    # the block, hence the block's S_b, so pair (a,b) is still
    # evaluated exactly once (in b's hash cell).
    env_salt = int(_os.environ.get("TADA_JACCARD_SALT", "0"))
    cap = min(max(4 * par, 1), 256)
    pairs_per_cell = 4096
    reps = docs.filter(F.col("jid") == F.col("rep"))
    if env_salt:
        sfac = F.lit(env_salt)
        cnts = None
    else:
        two_p = F.col("__bcnt__") * (F.col("__bcnt__") - F.lit(1))
        sfac = F.least(
            F.lit(cap),
            F.greatest(F.lit(1), F.ceil(two_p / F.lit(2.0 * pairs_per_cell))),
        )
        cnts = reps.groupBy(*blocks).agg(F.count(F.lit(1)).alias("__bcnt__"))
    # b's hash-salt AND the block's salt factor are materialized INTO
    # the checkpointed table (r12 plan-audit fix): computed in a
    # post-checkpoint projection, the join's inferred
    # isnotnull(__salt__) constraint pushed below the Project and
    # re-evaluated pmod(xxhash64(jid), S) per row in a Filter — the
    # DUP_EXPR guard-double-evaluation class. Stored as columns of the
    # staged RDD, the inferred filters land on plain attributes and the
    # hash runs exactly once per rep row.
    sh = reps.repartition(par).select(
        "jid",
        *[F.col(c) for c in blocks],
        char_shingles(F.col("__txt__"), ngram).alias("sh"),
    ).withColumn("__n__", F.size("sh"))
    if cnts is not None:
        # broadcast: #rows = block cardinality, which blocking keys keep
        # small by construction (they exist to bound the quadratic);
        # reads the SAME staged docs checkpoint, so no recompute
        sh = (
            sh.join(F.broadcast(cnts), blocks)
            if blocks
            else sh.crossJoin(F.broadcast(cnts))
        )
    sh = pin(
        sh.withColumn("__sfac__", sfac.cast("int"))
        .withColumn(
            "__hsalt__",
            F.pmod(F.xxhash64(F.col("jid")), F.col("__sfac__")).cast("int"),
        )
        .drop("__bcnt__")
    )
    # fragment-replicate salt for the pairwise verify (r12, guide §2.5):
    # blocked on low-cardinality keys (e.g. 5 langs) the self-join's
    # CPU-heavy intersect stage gets block-cardinality parallelism at
    # best — and AQE then coalesces those small-BYTE partitions further
    # (measured: the whole sf0.1 intersect stage ran as TWO tasks on 32
    # cores; AQE coalescing is byte-based and blind to O(|A|·|B|)
    # per-partition CPU). Each a-row is replicated to its block's
    # __sfac__ salt cells, each b-row keyed by its own hash cell, so
    # pair (a, b) is evaluated exactly once (in b's cell) and a hot
    # block's intersect work spreads over up to ``cap`` tasks. The
    # explicit repartition on BOTH sides pins a non-coalescible user
    # shuffle the join consumes co-partitioned (no ENSURE_REQUIREMENTS
    # exchange for AQE to shrink). Measured at sf0.1 (125k pairs, 32
    # cores): 11.98 s → 2.25 s on the pair stage vs unsalted; the r13
    # per-block factor keeps that spread on hot blocks while cold
    # blocks pay zero replication (r12 advice: the blanket ×S shipped
    # every shingle array S times even where one cell sufficed).
    a = (
        sh.drop("__hsalt__")
        .withColumn(
            "__salt__", F.explode(F.sequence(F.lit(0), F.col("__sfac__") - 1))
        )
        .drop("__sfac__")
        .repartition(par, *blocks, "__salt__")
        .alias("a")
    )
    b = (
        sh.withColumnRenamed("__hsalt__", "__salt__")
        .drop("__sfac__")
        .repartition(par, *blocks, "__salt__")
        .hint("shuffle_hash")
        .alias("b")
    )
    cond = (F.col("a.__salt__") == F.col("b.__salt__")) & (F.col("a.jid") < F.col("b.jid"))
    for c in blocks:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # size-ratio prefilter (similarity-join length filter): jaccard is
    # at most min(|a|,|b|)/max(|a|,|b|), so pairs below the threshold's
    # size band can never pass the final rounded filter — skip their
    # intersect entirely. The 1e-6 slack covers the floor-e6 rounding
    # (a pair passes round_det(j) >= t only if j >= t - 5.1e-7), so no
    # surviving pair is ever dropped: filter + exact verify ≡ verify.
    cond = cond & (
        F.least(F.col("a.__n__"), F.col("b.__n__")).cast("double")
        >= F.lit(float(threshold) - 1e-6)
        * F.greatest(F.col("a.__n__"), F.col("b.__n__")).cast("double")
    )
    # |a ∪ b| = |a| + |b| - |a ∩ b| (shingle arrays are distinct):
    # deriving the union size arithmetically skips materializing the
    # union array per pair — the intersect is the only set op left, and
    # codegen CSE evaluates it once. Measured ~2× on the verification
    # stage at sf0.01 (5.3s vs 11.4s), hash-identical result.
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a.__n__") + F.col("b.__n__") - inter
    jac = inter / union
    rep_pairs = (
        a.join(b, cond)
        .select(
            F.col("a.jid").alias("__ra__"),
            F.col("b.jid").alias("__rb__"),
            round_det(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # expand representative pairs back to member pairs; member ids of
    # different groups can interleave, so re-order with least/greatest
    ma = members.select(F.col("rep").alias("__ra__"), F.col("jid").alias("__ja__"))
    mb = members.select(F.col("rep").alias("__rb__"), F.col("jid").alias("__jb__"))
    cross = rep_pairs.join(ma, "__ra__").join(mb, "__rb__").select(
        F.least("__ja__", "__jb__").alias("id_a"),
        F.greatest("__ja__", "__jb__").alias("id_b"),
        "jaccard",
    )
    if threshold > 1.0:
        return cross
    m1, m2 = members.alias("m1"), members.alias("m2")
    intra = m1.join(
        m2,
        (F.col("m1.rep") == F.col("m2.rep")) & (F.col("m1.jid") < F.col("m2.jid")),
    ).select(
        F.col("m1.jid").alias("id_a"),
        F.col("m2.jid").alias("id_b"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionByName(intra)


def paragraph_chunks(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 20,
) -> DataFrame:
    """Explode documents into fixed-width word chunks — the 'paragraph'
    unit for corpora without newline structure (CCNet, Wenzek et al.
    2020, dedupes at paragraph granularity). Chunks are built by array
    SLICING, not collect_list, so chunk text is deterministic under any
    partitioning. Returns (id, cid, chunk) with empty chunks dropped."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(float(chunk_words))).cast("int")
    cids = F.when(n >= 1, F.sequence(F.lit(0), n_chunks - 1))
    chunks = F.transform(
        cids, lambda c: F.array_join(F.slice(toks, c * chunk_words + 1, chunk_words), " ")
    )
    out = df.select(id_col, F.posexplode(chunks).alias("cid", "chunk"))
    return out.filter(F.col("chunk") != "")


def paragraph_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 20,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (CCNet-style): every
    chunk occurrence except the global first (by (doc, position)) is a
    duplicate. Per document: chunk counts, duplicate fraction, and the
    md5 of the text REBUILT from only first-occurrence chunks.

    Scale shape: explode → ONE shuffle hash-partitioned by chunk
    fingerprint (the window) → one groupBy(doc). Shuffle volume is the
    chunk stream — ∝ corpus tokens / chunk_words — never a pairwise
    comparison. The rebuilt text sorts each doc's kept chunks by
    position via array_sort over structs (collect_list order is
    partition-dependent; the sort makes it deterministic)."""
    from pyspark.sql.window import Window

    ch = paragraph_chunks(df, id_col=id_col, text_col=text_col, chunk_words=chunk_words)
    w = Window.partitionBy("fp").orderBy(id_col, "cid")
    flagged = ch.withColumn("fp", F.md5("chunk")).withColumn(
        "keep", F.row_number().over(w) == 1
    )
    dup = F.when(F.col("keep"), 0).otherwise(1)
    kept_sorted = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("cid", "chunk")))
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum(dup).alias("n_dup_chunks"),
        round_det(F.sum(dup) / F.count("*"), 6).alias("dup_frac"),
        F.md5(
            F.array_join(F.transform(kept_sorted, lambda s: s["chunk"]), " ")
        ).alias("kept_md5"),
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
) -> DataFrame:
    """Cross-document duplicate-SPAN statistics — the substring-level
    member of the dedup family (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better": repeated >= k-token spans across
    documents, the duplication exact doc/paragraph dedup cannot see).
    Every k-token window is fingerprinted; an occurrence is DUPLICATE if
    the identical span occurs earlier in the corpus (smaller
    (doc, pos) key — the same keep-first rule as exact_dedup). Emits per
    doc the span count, duplicated-span count, and duplicate fraction —
    the measurement that decides whether span-removal is worth running,
    and the per-doc signal a filtering pass thresholds on.

    100 TB design: posexplode the k-gram stream -> ONE fingerprint-keyed
    shuffle (map-side combine computes the per-fp min key before it
    ships) -> equi-join back on fp -> per-doc aggregate. Shuffle volume
    is proportional to corpus tokens, never pairwise; no all-pairs stage
    exists. Fingerprints are md5 of the joined tokens so the DuckDB
    oracle replays them exactly.

    Positions are packed into one long key (doc_id * 2^20 + pos); pos is
    bounded by per-doc token count, far under 2^20 for any chunked
    corpus (chunk upstream if a doc exceeds a million tokens).
    """
    spans, first = _span_stream(df, text_col, id_col, k)
    dup = F.when(F.col("occ") != F.col("first_occ"), 1).otherwise(0)
    return (
        spans.join(first, "fp")
        .groupBy(F.col("sid").alias(id_col))
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(dup).alias("n_dup_spans"),
            round_det(F.sum(dup) / F.count("*"), 6).alias("dup_span_frac"),
        )
    )


def _span_stream(df: DataFrame, text_col: str, id_col: str, k: int, carry: tuple = ()):
    """Shared k-gram span stream for the substring-dedup pair
    (duplicate_span_stats / remove_duplicate_spans): per doc with >= k
    tokens, every k-token window as (sid, pos, fp, occ) plus the per-fp
    minimum occurrence key. ONE definition so the fingerprint recipe and
    the 2^20 position packing can never drift between the measuring and
    acting halves (the md5_hash32 single-definition rule). ``carry``
    projects extra per-doc columns through the span side so aggregating
    consumers (curation_report_langs' per-lang sums) skip the join back
    onto the doc table — the carried values never enter fp or occ.

    The doc stream is widened to cluster parallelism first (r12,
    operators/layout.widen_narrow_scan): the k-gram explode + per-
    window md5 is this family's CPU floor and otherwise runs serially
    above a narrow (single-split) scan; on wide inputs the widen is a
    no-op."""
    from tada_spark.operators.layout import widen_narrow_scan

    df = widen_narrow_scan(df)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # no (n >= k) pre-filter: a filter on the computed token count gets
    # pushed into the scan as size(split(...)) >= k and re-tokenizes
    # every document a second time (r10 DUP_EXPR audit). Instead the
    # window array is NULL for short docs (the when has no otherwise)
    # and posexplode_outer + the pos filter drops them — the rule that
    # would re-infer a size() filter skips outer generates.
    windows = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    )
    spans = (
        df.select(
            F.col(id_col).alias("sid"),
            *[F.col(c) for c in carry],
            F.posexplode_outer(windows).alias("pos", "span"),
        )
        .filter(F.col("pos").isNotNull())
        # the coalesce is a no-op (md5 of a concat_ws window is never
        # NULL) but makes fp provably non-nullable, so the fp
        # equi-join's inferred IsNotNull folds to TRUE instead of
        # re-hashing every span in a filter (r10 DUP_EXPR audit)
        .select("sid", *carry, "pos",
                F.coalesce(F.md5(F.col("span")), F.lit("")).alias("fp"),
                (F.col("sid") * F.lit(1 << 20) + F.col("pos")).alias("occ"))
    )
    first = spans.groupBy("fp").agg(F.min("occ").alias("first_occ"))
    return spans, first


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental (delta) exact dedup — the daily-ingest pattern: a new
    batch is admitted only where its normalized fingerprint (a) does not
    already exist in the standing corpus and (b) is the first occurrence
    within the batch (min id, the exact_dedup keep-first rule). Returns
    the accepted (id, fp) rows.

    100 TB design: fingerprint both sides at scan speed, LEFT ANTI join
    the delta against the corpus fingerprints on fp, then one
    fingerprint-keyed aggregate for within-batch dedup. The anti-join is
    a plain equi-join: with the corpus fingerprint table maintained
    BUCKETED BY fp (sources/bucketed.py), a daily delta shuffles only
    itself — the standing corpus is never re-shuffled; a bloom-filter
    pre-pass can cut the probe volume further but never changes the
    result.
    """

    # NULL-text rows fingerprint to NULL; drop them explicitly so the
    # anti-join contract is NULL-free on both sides (a NULL fp would
    # survive left_anti here while SQL NOT IN/NOT EXISTS semantics
    # differ — the oracle pins the same filter). Guard on the RAW
    # column — fingerprint() is NULL iff text is NULL — so the scan
    # predicate is free; an fp.isNotNull() filter gets pushed down as
    # isnotnull(md5(...)) and double-evaluates the fingerprint per row
    # on both sides (plan-confirmed).
    new_fp = new_df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
    )
    # the coalesce is a semantic no-op (md5 of non-null text is never
    # NULL) but makes the expression provably non-nullable, so the
    # IsNotNull(fp) constraint Catalyst infers on the anti-join's build
    # side folds to TRUE instead of being pushed through the Project as
    # a second md5 evaluation per corpus row (plan-confirmed)
    corpus_fp = corpus_df.filter(F.col(text_col).isNotNull()).select(
        F.coalesce(fingerprint(F.col(text_col)), F.lit("")).alias("fp")
    )
    fresh = new_fp.join(corpus_fp, "fp", "left_anti")
    return (
        fresh.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "fp")
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
) -> DataFrame:
    """Cross-document duplicate-SPAN REMOVAL — the acting half of
    substring dedup (duplicate_span_stats is the measuring half; Lee et
    al. 2021 remove the repeated substring itself, not the document).
    Rule: a k-gram occurrence is duplicate if an identical span occurs
    earlier in the corpus (keep-first, as everywhere in this module); a
    TOKEN is removed iff EVERY k-gram window covering it is duplicate —
    so the canonical copy survives verbatim and later copies lose
    exactly their repeated runs while unique interleaved text stays.
    Docs shorter than k tokens have no spans and pass through intact.

    Emits (id, n_tokens, n_removed, cleaned_md5) — the rebuilt text is
    content-addressed rather than materialized into the result row
    (rebuild is a projection away for a writer that wants the text).

    100 TB design: the span stream shuffles ONCE on fingerprint (map-
    side combined min-key), coverage is a k-wide explode of that stream
    (k is a small constant ⇒ k·tokens rows, linear), and the rebuild is
    one per-doc aggregate over sorted (pos, token) structs — the
    paragraph_dedup rebuild pattern. Nothing is pairwise; no driver
    loops.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # token_count convention: whitespace-only / empty text is ZERO
    # tokens, not the phantom [''] that size(split) reports
    n = F.when(F.length(F.trim(F.col(text_col))) == 0, 0).otherwise(F.size(toks))
    # ONE unfiltered scan answers every doc: the token count and the
    # md5 of the unmodified text (the short-doc result AND the value a
    # long doc's cleaned_md5 falls back to never being — see the left
    # join below). The previous long/short filtered UNION pushed
    # size(split(...)) comparisons into BOTH scans, re-tokenizing every
    # document per branch (r10 DUP_EXPR audit).
    base_stats = df.select(
        F.col(id_col).alias("sid"),
        n.cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", toks)).alias("full_md5"),
    )

    spans, first = _span_stream(df, text_col, id_col, k)
    dup = F.when(F.col("occ") != F.col("first_occ"), 1).otherwise(0).alias("dup")
    # span at pos covers tokens pos..pos+k-1; spans cover every token of
    # an n>=k doc, so min(dup) exists for every (sid, t)
    cover = (
        spans.join(first, "fp")
        .select("sid", dup, F.explode(F.sequence("pos", F.col("pos") + (k - 1))).alias("t"))
        .groupBy("sid", "t")
        .agg(F.min("dup").alias("all_dup"))
    )
    # posexplode_outer + pos filter, not a filter on the computed token
    # count (same rationale as _span_stream): short docs carry a NULL
    # window array and explode to a filtered NULL row
    tokens = df.select(
        F.col(id_col).alias("sid"),
        F.posexplode_outer(F.when(n >= k, toks)).alias("t", "tok"),
    ).filter(F.col("t").isNotNull())
    kept_sorted = F.array_sort(
        F.collect_list(F.when(F.col("all_dup") == 0, F.struct("t", "tok")))
    )
    rebuilt = (
        tokens.join(cover, ["sid", "t"])
        .groupBy("sid")
        .agg(
            F.sum("all_dup").alias("n_removed"),
            F.md5(
                F.array_join(F.transform(kept_sorted, lambda s: s["tok"]), " ")
            ).alias("cleaned_md5"),
        )
    )
    # every n >= k doc has a rebuilt row (its tokens all have cover
    # rows); docs without one are exactly the short docs, whose text
    # survives verbatim — coalesce onto the base answers
    return (
        base_stats.join(rebuilt, "sid", "left")
        .select(
            F.col("sid").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce(F.col("cleaned_md5"), F.col("full_md5")).alias("cleaned_md5"),
        )
    )


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    *,
    shingle_chars: int = 16,
) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every pair of sources,
    how many distinct character ``shingle_chars``-grams they share and
    the Jaccard of their shingle sets — the corpus-curation view that
    says WHICH crawls/feeds duplicate each other (doc-level dedup says
    which rows; this says where they come from, the decision input for
    dropping or down-weighting a whole feed).

    100 TB shape: distinct (source, shingle) is one shuffle on the
    shingle; the self-join is shingle-keyed, and each shingle's pair
    fan-out is bounded by n_sources² (sources are tens, never
    corpus-sized) — so the pair stream is |shared shingles| × O(1),
    never doc-pairwise. Per-source set sizes are a k-row broadcast.
    """
    # staged (r12): the distinct (source, shingle) stream feeds THREE
    # subtrees (both pair-join sides and the per-source counts); under
    # AQE each re-ran the scan + shingle explode + distinct shuffle
    # (no cross-stage exchange reuse — see _banded_pairs). One lazy
    # pin computes it once per invocation. Widened first
    # (r12): the 16-gram explode above the distinct's shuffle is the
    # CPU floor here and runs serially on a single-split scan.
    from tada_spark.operators.layout import widen_narrow_scan

    sh = pin(
        widen_narrow_scan(df).filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(group_col).alias("src"),
            F.explode(char_shingles(F.col(text_col), shingle_chars)).alias("g"),
        )
        .filter(F.col("g").isNotNull() & (F.col("g") != ""))
        .distinct()
    )
    counts = sh.groupBy("src").agg(F.count("*").alias("n"))
    a = sh.select(F.col("src").alias("source_a"), "g")
    b = sh.select(F.col("src").alias("source_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    ca = counts.select(F.col("src").alias("source_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("src").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            round_det(
                F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 6
            ).alias("jaccard"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — the incremental-ingest ops view: which
    keys were added, removed, or content-changed between two snapshots
    (changed = canonical fingerprint differs; unchanged rows are
    dropped, so output ∝ churn, not corpus). The audit that decides
    whether a delta run or a full rebuild is warranted.

    100 TB shape: each side reduces to (key, fp) at scan speed, then
    ONE full-outer equi-join on the key — with both snapshots bucketed
    by key this is the zero-exchange diff; output is churn-sized.
    Null-safety pinned: presence comes from explicit flags (never from
    fp nullness — a null-text doc has a null fp but still EXISTS) and
    the change test is null-safe equality, mirrored in the oracle with
    IS DISTINCT FROM.
    """
    of = old.select(
        F.col(key), fingerprint(F.col(text_col)).alias("fp_old"), F.lit(1).alias("in_old")
    )
    nf = new.select(
        F.col(key), fingerprint(F.col(text_col)).alias("fp_new"), F.lit(1).alias("in_new")
    )
    j = of.join(nf, key, "full_outer")
    status = (
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        .when(~F.col("fp_old").eqNullSafe(F.col("fp_new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col(key), status.alias("status")).filter(F.col("status") != "unchanged")


def dedup_threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.5, 0.6, 0.7, 0.8, 0.9),
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    ngram: int = 4,
) -> DataFrame:
    """Dedup threshold PARAMETER SWEEP in one pass: for each candidate
    Jaccard threshold, how many near-dup pairs fire and how many docs a
    keep-lowest-id dedup would drop. The measure-before-committing
    report a curation run does before picking τ — computed from ONE
    blocked pair materialization (the quadratic work happens once;
    the sweep is an explode over a constant array).

    Thresholds compare against the ROUNDED (floor-e6) jaccard — the
    jaccard_pairs convention — so every engine agrees on boundary
    pairs. Thresholds with zero firing pairs emit no row (both engines).
    """
    pairs = jaccard_pairs(
        df,
        text_col,
        id_col,
        block_cols=block_cols,
        ngram=ngram,
        threshold=min(thresholds),
    )
    th = F.explode(F.array(*[F.lit(float(t)) for t in sorted(thresholds)])).alias("threshold")
    swept = pairs.select("id_b", "jaccard", th).filter(F.col("jaccard") >= F.col("threshold"))
    return swept.groupBy("threshold").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("id_b").alias("n_docs_removed"),
    )


def pagerank_quantized(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    iters: int = 3,
    scale: int = 10**9,
) -> DataFrame:
    """Integer-quantized PageRank over an undirected pair graph — the
    duplicate-centrality score (a doc with high rank in the near-dup
    graph is the hub of a template family; CC says WHICH cluster,
    PageRank says WHO is the canonical center). Like kmeans_quantized,
    the iteration is defined on exact integers so a DuckDB oracle can
    unroll it and hash-match bit for bit:

      r0(v)   = floor(S / N)                      S = ``scale``
      base    = floor(floor(S·15/100) / N)        damping d = 0.85
      r_t+1(v)= base + floor(85 · Σ_{u→v} floor(r_t(u)/deg(u)) / 100)

    Every division is floor of an IEEE double quotient of exact
    integers < 2^53 — correctly rounded and therefore bit-identical on
    every engine (the det_ln argument); sums and products stay in
    longs. Dangling nodes cannot exist (undirected edges), isolated
    docs are out of scope (rank only means anything on the subgraph).

    100 TB shape: per round, one edge-keyed equi-join (rank table onto
    the edge list) + one dst-keyed hash-agg — the standard Pregel-style
    DataFrame iteration, each round an eager pin run by ``iterate``.
    Held: the edge pin plus at most two rank pins in the loop, then the
    returned rank pin alone (the edge pin when ``iters`` is 0). Executor
    loss mid-loop fails the call unless a checkpoint dir is set
    (``sc.setCheckpointDir``), which makes the pins reliable.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = pin(fwd.union(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct(), eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    n = deg.groupBy().agg(F.count("*").alias("n_nodes"))
    s15 = (scale * 15) // 100
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"),
        "deg",
        F.floor(F.lit(scale).cast("long") / F.col("n_nodes")).cast("long").alias("rank"),
        F.floor(F.lit(s15).cast("long") / F.col("n_nodes")).cast("long").alias("base"),
    )

    def step(ranks: DataFrame, _: int) -> DataFrame:
        inc = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select(
                "dst",
                F.floor(F.col("rank").cast("double") / F.col("deg").cast("double"))
                .cast("long")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        kept = ranks.select("node", "deg", "base")
        return kept.join(inc, kept["node"] == inc["dst"]).select(
            "node",
            "deg",
            "base",
            (
                F.col("base")
                + F.floor((F.lit(85).cast("long") * F.col("inc")) / F.lit(100).cast("long")).cast(
                    "long"
                )
            ).alias("rank"),
        )

    try:
        ranks, _ = iterate(ranks, step, rounds=iters)
    finally:
        if iters:  # the rounds' pins no longer read the edge list
            unpin(edges)
    return ranks.select("node", "deg", F.col("rank").alias("pagerank_e9"))


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level (provenance) dedup — the standard PRE-text dedup stage
    (CCNet, Wenzek et al. 2020; RefinedWeb, Penedo et al. 2023): crawls
    re-fetch the same resource under tracking params, fragments, case
    and port noise, so dedup keys on text.canonical_url, not the raw
    string. Returns one row per canonical URL: (canon_url, keep_id =
    min id, n_occ, n_dropped). Beyond-reference (the reference has no
    text/URL surface; its string handling is fmt.Sprint coercion,
    valueContainers.go:341-398).

    NULL-url docs pass through as SINGLETON groups keyed
    'urn:missing:<id>' (r11 ADVICE: the old isNotNull filter silently
    dropped them from the keep-list, so a downstream join on keep_id
    removed docs with missing provenance from the corpus instead of
    treating them as unique). A missing URL is absent evidence of
    duplication, not evidence of absence.

    Scale: the canonicalization is a pure regexp/array projection at
    scan speed; the dedup is ONE hash-aggregate shuffle keyed on the
    canonical URL — exactly exact_dedup's profile. canonical_url
    propagates NULL input to NULL output, so one coalesce in the SAME
    projection supplies the singleton key with the canon expression
    still evaluated once (DUP_EXPR discipline: no computed-column
    filter for Catalyst to re-infer into the scan)."""
    from tada_spark.functions.text import canonical_url

    canon = F.coalesce(
        canonical_url(F.col(url_col)),
        F.concat(F.lit("urn:missing:"), F.col(id_col).cast("string")),
    )
    return (
        df.select(F.col(id_col), canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_occ"),
            (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"),
        )
    )


def domain_boilerplate_removal(
    df: DataFrame,
    text_col: str = "clean",
    domain_col: str = "domain",
    id_col: str = "doc_id",
    *,
    min_domain_docs: int = 3,
) -> DataFrame:
    """Frequency-based boilerplate discovery + removal (the CCNet-class
    cross-document pass, Wenzek et al. 2020 §3.1): a line is boilerplate
    in a domain iff it appears in MORE THAN HALF of the domain's docs
    (2·n_line_docs > n_domain_docs) — nav/footer/list chrome repeats on
    every page of a site, real content doesn't. The threshold applies
    only when the domain has >= ``min_domain_docs`` documents (r11
    ADVICE: in a 1-doc domain every line appears in 100% of its docs,
    so the bare rule empties the doc — invisible on a synthetic 7-domain
    grid, destructive on real long-tail domains; CCNet's per-shard
    statistic has the same implicit floor). Doc-fraction thresholds are
    replication-invariant (both counts scale together), so a 100×
    replica checks the same truth. Expects pre-cleaned text (newline-
    separated lines — strip_markup's output convention).

    Output: (id, domain, n_raw, n_removed, rebuilt) with rebuilt the
    surviving lines rejoined in original order.

    Shape: posexplode_outer of the line array + a position filter (the
    sentence_chunks pattern — a plain explode would push the whole
    upstream expression chain into the scan as inferred isnotnull/size
    filters), then (domain, line)- and domain-keyed COUNT DISTINCT
    aggregates and an order-preserving per-doc rebuild (array_sort on
    (pos, line) structs). The line stream feeds four consumers; it is
    staged with a lazy pin (the daily_ingest pattern) so the scan +
    split + explode runs once per invocation,
    and a web-scale run keys the aggregates on md5(line) instead of
    the raw line string."""
    # NULL guards (r12 review): a NULL domain would fail every equi-join
    # below and empty the doc (the url_dedup absent-evidence class) —
    # coalesce it to the '' domain; NULL text would drop the doc from
    # the OUTPUT entirely (a downstream inner join then deletes it from
    # the corpus) — coalesce to '' so it flows through as one empty
    # line, the same as genuinely empty text.
    # staged (r12): the line stream feeds FOUR consumers (line_freq,
    # dom_docs, the kept join-back, raw) whose downstream exchanges all
    # differ — AQE stage reuse unifies none of them, so the scan +
    # split + posexplode ran four times per invocation (plan before:
    # FileScan ×4, 10 live exchanges). A lazy pin holds the exploded
    # line table once per invocation.
    lines = pin(df.select(
        F.col(id_col),
        F.coalesce(F.col(domain_col), F.lit("")).alias("domain"),
        F.posexplode_outer(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    ).filter(F.col("pos").isNotNull()))
    line_freq = lines.groupBy("domain", "line").agg(
        F.countDistinct(id_col).alias("nld")
    )
    dom_docs = lines.groupBy("domain").agg(F.countDistinct(id_col).alias("ndd"))
    # no forced broadcast on dom_docs (r12 review): one row per domain
    # is millions of rows on a web crawl — AQE broadcasts it while it
    # fits and falls back to a shuffled join when it would not, the
    # same policy bigram_familiarity documents for its count tables
    kept = (
        lines.join(line_freq, ["domain", "line"])
        .join(dom_docs, "domain")
        .filter(
            (F.lit(2) * F.col("nld") <= F.col("ndd"))
            | (F.col("ndd") < F.lit(int(min_domain_docs)))
        )
    )
    raw = lines.groupBy(id_col).agg(
        F.min("domain").alias("domain"), F.count(F.lit(1)).alias("n_raw")
    )
    keptg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("rebuilt"),
    )
    return raw.join(keptg, id_col, "left").select(
        id_col,
        "domain",
        "n_raw",
        (F.col("n_raw") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.coalesce(F.col("rebuilt"), F.lit("")).alias("rebuilt"),
    )


#: Densification offset per borrow distance: borrowed slot values live
#: above the 32-bit real-value range so a slot borrowed from distance j
#: can never collide with a real minimum or a different-distance borrow
#: (Shrivastava & Li 2014's "improved" densification uses the same
#: distance-tagging idea). 16 borrows × 2^33 stays far below 2^63 — no
#: ANSI overflow possible.
_OPH_BORROW_OFFSET = 1 << 33
_OPH_RANGE = 1 << 32


def minhash_oph_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    shingle_words: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """One-permutation MinHash signatures (Li, Owen & Zhang 2012) with
    rotation densification (Shrivastava & Li 2014) — the known-better
    algorithm for the repo's heaviest query: classic minhash computes
    ``num_hashes`` hashes PER SHINGLE (dedup.minhash_signatures), OPH
    computes ONE hash per shingle and partitions the hash space into
    ``num_hashes`` bins (bin = h mod k), taking the min within each
    bin; empty bins borrow the nearest filled bin to the right
    (circular), offset by distance so borrowed values never collide
    across distances. Same (id, h0..h{n-1}) output contract and the
    same banded-LSH guarantees downstream.

    Scale shape — per-shingle work is O(1), independent of k (the whole
    point of OPH; classic is O(k) hashes per shingle):

    * project ONE hash + its bin, then a (doc, bin)-keyed min aggregate
      — map-side combine compresses each partition to ≤ docs×k rows
      before the shuffle, exactly the classic profile's volume;
    * a second doc-keyed aggregate collects the ≤ k (bin, min) entries
      into a map — a second exchange, but over the already-tiny
      docs×k-row frame (the extra exchange IS the price of O(1)
      per-shingle work, and it is negligible next to the shingle
      stream);
    * rotation densification runs as ONE right-to-left scan
      (F.aggregate over the doubled slot array, 2k steps per DOC row).
      A per-slot COALESCE chain is O(k²) expression terms — at k=128
      it blew past janino's method limits, killed whole-stage codegen
      for the entire stage, and ran 3.6× SLOWER than classic
      (measured; that failure is why this is a scan).

    The hash is folded into [0, 2^32) (pmod) so bin assignment, minima,
    and the md5 oracle twin share one arithmetic domain on both
    engines. Docs with at least one shingle always densify (≥ 1 bin
    filled in both copies of the doubled array, so the carry is set
    before the scan reaches the output positions); blank docs drop out
    exactly as in minhash_signatures (shared _shingle_stream — the
    pinned blank-doc convention).
    """
    k = int(num_hashes)
    sh = _shingle_stream(df, text_col, id_col, shingle_words)
    h = F.pmod(_minhash_hash(0, F.col("s"), hash_family), F.lit(_OPH_RANGE))
    hs = sh.select(F.col(id_col), h.alias("h")).select(
        id_col, "h", F.pmod(F.col("h"), F.lit(k)).cast("int").alias("b")
    )
    binmin = hs.groupBy(id_col, "b").agg(F.min("h").alias("mh"))
    sig = binmin.groupBy(id_col).agg(
        # keys are distinct by construction (grouped on b upstream), so
        # map_from_entries is deterministic despite collect_list order
        F.map_from_entries(F.collect_list(F.struct("b", "mh"))).alias("m")
    )
    # densify: nearest filled bin to the RIGHT (circular) + distance
    # offset. doubled[p] = slot[p mod k] for p in [0, 2k); one scan from
    # p = 2k-1 down to 0 carries (value, position) of the nearest fill
    # and emits h_i = v + (p_v - i)*OFFSET at each output position i < k.
    m = F.col("m")
    doubled = F.transform(
        F.sequence(F.lit(0), F.lit(2 * k - 1)),
        lambda j: F.element_at(m, F.pmod(j, F.lit(k)).cast("int")),
    )
    zipped = F.reverse(
        F.arrays_zip(doubled.alias("v"), F.sequence(F.lit(0), F.lit(2 * k - 1)).alias("p"))
    )
    init = F.struct(
        F.lit(None).cast("long").alias("cv"),
        F.lit(0).alias("cp"),
        F.array().cast("array<long>").alias("out"),
    )

    def scan(acc: Column, z: Column) -> Column:
        cv = F.when(z["v"].isNotNull(), z["v"]).otherwise(acc["cv"])
        cp = F.when(z["v"].isNotNull(), z["p"]).otherwise(acc["cp"])
        emit = cv + (cp - z["p"]).cast("long") * F.lit(_OPH_BORROW_OFFSET)
        out = F.when(
            z["p"] < k, F.concat(F.array(emit), acc["out"])
        ).otherwise(acc["out"])
        return F.struct(cv.alias("cv"), cp.alias("cp"), out.alias("out"))

    dense = F.aggregate(zipped, init, scan, lambda st: st["out"])
    out = sig.select(F.col(id_col), dense.alias("hs"))
    return out.select(
        id_col, *[F.element_at(F.col("hs"), i + 1).alias(f"h{i}") for i in range(k)]
    )


def minhash_oph_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    max_bucket: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over ONE-PERMUTATION
    minhash signatures — same banding, bucket self-join and skew guard
    as minhash_lsh_pairs (shared _banded_pairs), with the cheaper OPH
    signature stage. Candidate quality parity vs the classic family is
    pinned by tests/test_r12_ops.py (recall against true-Jaccard
    ground truth on the documents fixture) and the A/B is recorded in
    SCALE.md."""
    sig = minhash_oph_signatures(
        df, text_col, id_col,
        num_hashes=num_hashes, shingle_words=shingle_words, hash_family=hash_family,
    )
    return _banded_pairs(sig, id_col, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket)
