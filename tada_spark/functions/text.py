"""Text-analysis column expressions for document pipelines.

All pure Column expressions (whole-stage-codegen'd, no UDFs) so they run
at scan speed over 100 TB of documents and push down through Catalyst.
Each has an exact ANSI-SQL twin used by the DuckDB oracle — keep the two
in lockstep (see tada_spark/queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from tada_spark.plans.semantics import det_ln, pin, round_det

#: language → marker stopwords for the n-gram-free heuristic language ID.
#: Deterministic and SQL-expressible; not a real langid model (the real
#: thing would be a fastText-style Pandas UDF — out of container scope).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "los"),
    "de": ("der", "die", "und"),
    "fr": ("le", "les", "des"),
    "zh": ("de", "shi", "zai"),
}


def md5_hash32(col: Column) -> Column:
    """The oracle-replicable 32-bit hash: first 8 hex chars of md5, as a
    long. DuckDB twin, byte-for-byte: ``('0x' || md5(x)[1:8])::BIGINT``.
    THE single definition — minhash, simhash, winnowing, and sampling
    all route through here so the Spark idiom can never drift from the
    SQL oracles one site at a time."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def token_count(col: Column) -> Column:
    """Whitespace token count. size(split) counts empty trailing fields;
    trim + guard empty string to match the intuitive definition."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def word_shingles(col: Column, n: int = 3) -> Column:
    """n-word shingles (distinct) from whitespace tokens — the MinHash
    input unit. Empty/whitespace-only text yields NULL (split of ''
    gives [''], which would otherwise make every empty doc share one
    fake shingle — and collide as near-dups in the array-path minhash,
    diverging from the long-form path which drops them). NULL rather
    than an empty array so downstream aggregate() propagates it in a
    single evaluation — an empty-array convention would force callers
    into a size() guard that evaluates this whole expression twice."""
    trimmed = F.trim(col)
    toks = F.split(trimmed, r"\s+")
    k = F.size(toks) - (n - 1)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    # NULL input must hit the guard too: F.when(trimmed == "") is NULL
    # for NULL text and would fall to the otherwise branch, where
    # concat_ws over the NULL token slice fabricates the same '' shingle
    # for every null doc — the exact collision class this guard exists for
    return F.when(
        F.coalesce(trimmed, F.lit("")) == "", F.lit(None).cast("array<string>")
    ).otherwise(shingles)


def char_shingles(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams — Jaccard dedup input."""
    t = col
    k = F.length(t) - (n - 1)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.substring(t, i, n),
        )
    )


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(col) == 0, F.lit(None)).otherwise(
        F.length(stripped) / F.length(col)
    )


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = ("the", "a", "and", "of", "to", "in")) -> Column:
    """Fraction of tokens that are stopwords; NULL for empty/blank text
    (0 tokens — the module's null convention, like punct_ratio and
    mean_word_length). The previous size(toks)==0 guard was unreachable:
    split('') yields [''], a phantom token that silently made the
    empty-text ratio 0.0."""
    t = F.trim(F.lower(col))
    toks = F.split(t, r"\s+")
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_sw = F.size(F.filter(toks, lambda tk: F.array_contains(sw, tk)))
    return F.when(F.length(t) > 0, n_sw / F.size(toks))


def quality_score(col: Column) -> Column:
    """Composite heuristic quality in [0,1]: rewards mid-length docs,
    penalizes punctuation soup and stopword-free keyword stuffing."""
    n = token_count(col)
    len_score = F.least(n / F.lit(50.0), F.lit(1.0))
    punct = F.coalesce(punct_ratio(col), F.lit(0.0))
    sw = F.coalesce(stopword_ratio(col), F.lit(0.0))
    return round_det(
        F.greatest(
            F.lit(0.0),
            len_score * (1.0 - punct) * (F.lit(0.5) + F.least(sw * 2, F.lit(0.5))),
        ),
        6,
    )


#: Tie-break priority for lang_id (first match wins on equal counts).
LANG_PRIORITY = ("en", "es", "de", "fr", "zh")


def lang_counts(col: Column) -> dict[str, Column]:
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    out = {}
    for lang in LANG_PRIORITY:
        arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id(col: Column) -> Column:
    """Marker-stopword language vote; highest count wins, ties broken by
    LANG_PRIORITY order, no hits ⇒ 'unknown'. Mirrors a CASE ladder so
    the DuckDB oracle can reproduce it verbatim."""
    cnt = lang_counts(col)
    all_max = F.greatest(*cnt.values())
    expr: Column = F.lit("unknown")
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((cnt[lang] > 0) & (cnt[lang] == all_max), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: md5 of lowercased,
    punctuation-stripped, whitespace-collapsed text. Stable across
    engines (md5 is everywhere) — the exact-dedup key."""
    norm = F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " ")
    return F.md5(F.trim(norm))


#: GPT-2-style pre-tokenizer approximation: contractions, letter runs,
#: digit runs, punctuation runs, whitespace. Alternation-only (no
#: lookarounds) so Java regex (Spark) and RE2 (DuckDB/others) agree.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_estimate(col: Column) -> Column:
    """BPE-ish token count: matches of the GPT-2 pre-tokenizer split
    regex. A cheap, JVM-side LLM-token budget estimator (real BPE merges
    only ever split these pieces further by a roughly constant factor)."""
    return F.regexp_count(col, F.lit(BPE_SPLIT_PATTERN))


def rolling_hashes(col: Column, k: int = 8, hash_family: str = "xxhash64") -> Column:
    """Rolling k-gram fingerprint hashes: xxhash64 of every k-char
    window, as an array column. All JVM expression — no UDF. Strings
    shorter than k yield an EMPTY array — F.sequence(1, 0) would
    otherwise produce the descending [1, 0] (its step defaults to -1)
    and emit two phantom partial-window hashes.

    hash_family='md5' swaps in the DuckDB-replicable 32-bit idiom
    (('0x'||md5(gram)[1:8])::BIGINT) so winnowing can be oracle-checked
    hash-exactly; xxhash64 stays the production family."""
    if hash_family == "xxhash64":
        h = lambda g: F.xxhash64(g)  # noqa: E731
    elif hash_family == "md5":
        h = md5_hash32
    else:
        raise ValueError(f"unknown hash family: {hash_family}")
    n_windows = F.length(col) - F.lit(k - 1)
    return F.when(
        n_windows >= 1,
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: h(col.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprint(col: Column, k: int = 8, w: int = 16) -> Column:
    """Winnowing document fingerprint (Schleimer et al., SIGMOD'03):
    min hash per sliding window of w rolling k-gram hashes, deduped.
    Guarantees any shared substring of length >= k + w - 1 contributes a
    shared fingerprint — the local near-dup detector that, unlike
    minhash, localizes WHERE the overlap is."""
    hashes = rolling_hashes(col, k)
    n = F.size(hashes) - F.lit(w - 1)
    # docs with fewer than w rolling hashes have no complete window ⇒
    # empty fingerprint (sequence(1, 0) would descend through the
    # invalid slice position 0 and crash the job)
    return F.when(
        n >= 1,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda j: F.array_min(F.slice(hashes, j, w)))
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprints_long(
    df, *, id_col: str, text_col: str, k: int = 8, w: int = 16,
    hash_family: str = "xxhash64",
):
    """Winnowing in long form: (id, fp) rows. Same fingerprints as
    winnow_fingerprint, but explode + running window-min instead of
    nested array slicing — the array form evaluates O(len·w) slice
    expressions per row, this shape is one explode plus a linear
    window pass per document, and it feeds pair-mining joins directly."""
    from pyspark.sql.window import Window

    hashes = df.select(
        F.col(id_col),
        F.posexplode(rolling_hashes(F.col(text_col), k, hash_family)).alias("__pos__", "__h__"),
    )
    win = Window.partitionBy(id_col).orderBy("__pos__").rowsBetween(0, w - 1)
    n_ok = Window.partitionBy(id_col)
    return (
        hashes.withColumn("__fp__", F.min("__h__").over(win))
        .withColumn("__n__", F.count("*").over(n_ok))
        .filter(F.col("__pos__") <= F.col("__n__") - w)
        .select(F.col(id_col), F.col("__fp__").alias("fp"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Gopher / C4 quality-filter rules (Rae et al. 2021 "Scaling Language
# Models" §A1.1; Raffel et al. 2020 C4 heuristics). Pure Column algebra —
# scan-speed, zero shuffles, and every rule is RE2-compatible so the
# DuckDB oracle reproduces it verbatim.
# ---------------------------------------------------------------------------

#: Gopher's "must contain 2 of these" stop words.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def mean_word_length(col: Column) -> Column:
    """Mean non-whitespace characters per whitespace token (Gopher keeps
    docs with mean word length in [3, 10])."""
    n = token_count(col)
    chars = F.length(F.regexp_replace(col, r"\s", ""))
    return F.when(n == 0, F.lit(None)).otherwise(round_det(chars / n, 6))


def symbol_word_ratio(col: Column) -> Column:
    """(# of '#' or '...' symbols) / words — Gopher drops docs > 0.1."""
    n = token_count(col)
    syms = F.regexp_count(col, F.lit(r"#|\.\.\."))
    return F.when(n == 0, F.lit(None)).otherwise(round_det(syms / n, 6))


def alpha_word_fraction(col: Column) -> Column:
    """Fraction of words containing ≥1 alphabetic character (Gopher
    keeps > 0.8)."""
    toks = F.split(F.trim(col), r"\s+")
    n = token_count(col)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.when(n == 0, F.lit(None)).otherwise(round_det(alpha / n, 6))


def gopher_stop_hits(col: Column) -> Column:
    """How many distinct Gopher stop words appear (keep ≥ 2)."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    return F.size(F.array_intersect(toks, sw))


def line_fractions(col: Column) -> dict[str, Column]:
    """Per-line C4/Gopher shape rules as fractions of lines: bullet
    starts (drop ≥ 0.9), ellipsis ends (drop ≥ 0.3), terminal-punctuation
    ends (C4 keeps such lines)."""
    lines = F.split(col, r"\n")
    nl = F.size(lines)
    def frac(pred):
        return F.when(nl == 0, F.lit(None)).otherwise(
            round_det(F.size(F.filter(lines, pred)) / nl, 6)
        )
    return {
        "bullet_line_frac": frac(lambda x: x.rlike(r"^\s*[-*•]")),
        "ellipsis_line_frac": frac(lambda x: x.rlike(r"\.\.\.\s*$")),
        "end_punct_line_frac": frac(lambda x: x.rlike(r"[.!?\"]\s*$")),
    }


def gopher_keep(
    col: Column,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_hits: int = 2,
) -> Column:
    """The combined Gopher quality gate as one boolean Column. Every
    sub-rule uses the ROUNDED fraction (float discipline: comparisons
    happen on the same 6-dp values the oracle computes). Thresholds are
    knobs — real pipelines tune them per corpus (the stop-hit rule in
    particular assumes natural English prose)."""
    n = token_count(col)
    lf = line_fractions(col)
    return (
        n.between(min_words, max_words)
        & mean_word_length(col).between(3, 10)
        & (symbol_word_ratio(col) < 0.1)
        & (lf["bullet_line_frac"] < 0.9)
        & (lf["ellipsis_line_frac"] < 0.3)
        & (alpha_word_fraction(col) > 0.8)
        & (gopher_stop_hits(col) >= min_stop_hits)
    )


# ---------------------------------------------------------------------------
# PII scrubbing — the standard pre-training redaction pass. Patterns are
# RE2-compatible (no lookarounds) so the DuckDB oracle matches exactly.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d\- ]{7,}\d",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind PII match counts — the audit half of the scrub."""
    return {k: F.regexp_count(col, F.lit(p)) for k, p in PII_PATTERNS.items()}


def redact_pii(col: Column, replacement: str = "[PII]") -> Column:
    """Replace every PII match with a fixed token. Order matters: emails
    first (an email contains dots that the ipv4 pattern could chew on),
    then phones, then IPs."""
    out = col
    for kind in ("email", "phone", "ipv4"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], replacement)
    return out


# ---------------------------------------------------------------------------
# Benchmark decontamination — flag training docs that share verbatim
# n-gram content with an evaluation/benchmark set. The standard
# pre-training hygiene pass (GPT-3 appendix C / PaLM style: substring
# n-gram collision against the eval corpus).
# ---------------------------------------------------------------------------


def contamination_hits(
    corpus,
    benchmark,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_chars: int = 24,
):
    """Per-corpus-doc count of DISTINCT character n-grams shared with
    any benchmark document. Returns (id_col, n_hits) for docs with
    >= 1 hit.

    100 TB shape: the benchmark side is tiny by nature (eval sets are
    MBs) — its distinct shingle set broadcasts, and the corpus explode
    joins it MAP-SIDE before anything shuffles, so only the hit rows
    (normally a vanishing fraction) reach the count-distinct aggregate
    keyed by doc id. The corpus never self-joins and never shuffles
    its text.
    """
    # keep only FULL-length shingles: char_shingles of an empty or
    # sub-ngram_chars doc emits one phantom/partial shingle, which made
    # an empty benchmark row 'hit' empty corpus docs below the nominal
    # n-gram guarantee (the source_overlap guard, applied here too)
    bench_shingles = (
        benchmark.select(
            F.explode(char_shingles(F.col(text_col), ngram_chars)).alias("sh")
        )
        .filter(F.length("sh") == ngram_chars)
        .distinct()
    )
    # widen the CORPUS side (r12): the 24-char shingle explode + map-
    # side broadcast join run above the scan and went serial on a
    # single-split input; the benchmark side is tiny by contract
    from tada_spark.operators.layout import widen_narrow_scan

    corpus = widen_narrow_scan(corpus)
    corpus_shingles = corpus.select(
        F.col(id_col),
        F.explode(char_shingles(F.col(text_col), ngram_chars)).alias("sh"),
    ).filter(F.length("sh") == ngram_chars)
    return (
        corpus_shingles.join(F.broadcast(bench_shingles), "sh")
        .groupBy(id_col)
        .agg(F.count_distinct("sh").alias("n_hits"))
    )


def bigram_familiarity(
    docs: "DataFrame",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Corpus-LM familiarity score per document — the CCNet-style
    quality signal (Wenzek et al. 2020 use KenLM perplexity; this is
    the transcendental-free analog): the mean add-one-smoothed corpus
    bigram probability p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V) over the
    document's bigrams. Low scores flag out-of-distribution / garbled
    text exactly like high perplexity does.

    Determinism design: probabilities use only +,/,* on exact integer
    counts (single IEEE ops — identical on every engine), each p is
    floored to integer 1e-6 units BEFORE summing, so the per-doc sum is
    exact integer arithmetic and the result oracle-checks hash-exactly.
    (True log-perplexity needs ln(), whose last-ulp differs across
    libm implementations — that variant would be rows-only.)

    100 TB shape: two corpus-wide count aggregates (unigram, bigram —
    map-side partials over the gram stream), both joined back to the
    per-doc gram stream on the gram key; the unigram/bigram count
    tables are vocabulary-sized, not corpus-sized. One final
    groupBy(doc).
    """

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    sz = F.size(toks)
    words = docs.select(id_col, F.explode(toks).alias("w")).filter(F.col("w") != "")
    grams = (
        docs.select(
            id_col,
            F.explode(
                F.when(
                    sz >= 2,
                    F.zip_with(
                        toks,
                        F.slice(toks, 2, F.greatest(sz - 1, F.lit(1))),
                        lambda a, b: F.concat_ws(" ", a, b),
                    ),
                )
            ).alias("g"),
        )
        .filter(F.col("g").contains(" "))
    )
    uni = words.groupBy("w").agg(F.count("*").alias("cu"))
    vocab = uni.agg(F.count("*").alias("v"))
    big = grams.groupBy("g").agg(F.count("*").alias("cb"))
    # count tables are vocabulary-sized; no forced broadcast — AQE
    # broadcasts them when they fit and falls back to a shuffled join
    # when a web-scale vocabulary (100M+ types) would OOM an executor.
    # Only the 1-row vocab count is explicitly broadcast.
    j = (
        # substring_index, not split(g)[0]: the uni join's inferred
        # constraints (IsNotNull(w1), w1 != '') duplicate the w1
        # expression into the gram-stream filter — a scalar prefix read
        # duplicates for free, a per-gram ARRAY allocation does not
        # (r10 DUP_EXPR audit)
        grams.withColumn("w1", F.substring_index(F.col("g"), " ", 1))
        .join(big, "g")
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
    )
    p6 = F.floor((F.col("cb") + 1) / (F.col("cu") + F.col("v")) * 1e6 + 0.5).cast("long")
    return (
        j.withColumn("p6", p6)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.floor(F.sum("p6") / F.count("*") + F.lit(0.5)) / F.lit(1e6)).alias(
                "familiarity"
            ),
        )
    )


def chunk_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep step
    for RAG indexing and fixed-length training examples: chunks of
    ``size`` tokens starting every ``stride`` tokens (overlap =
    size - stride keeps boundary-spanning content retrievable). Emits
    (doc, chunk_idx, start_tok, n_chunk_tokens, chunk_md5); the md5 is
    the chunk's content address for downstream dedup / ANN indexing —
    payload text stays columnar and is re-sliced on demand rather than
    duplicated into every row.

    100 TB design: pure per-row explode — stateless, no shuffle, scales
    with scan bandwidth; chunk count per doc is ceil(n/stride), so
    output rows ~ corpus_tokens/stride. The window rule (starts at
    0, stride, 2*stride, ... while start < n; tail chunks run short) is
    trivially replayable in any engine.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), toks.alias("toks"), F.size(toks).alias("n"))
        .select(
            id_col,
            "toks",
            "n",
            F.posexplode(
                F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
            ).alias("chunk_idx", "start_tok"),
        )
        .select(
            id_col,
            "chunk_idx",
            "start_tok",
            F.least(F.lit(size), F.col("n") - F.col("start_tok")).alias("n_chunk_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("start_tok") + 1, size))
            ).alias("chunk_md5"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_postings: int = 16,
) -> DataFrame:
    """Build a term → postings inverted index over the corpus — the
    retrieval-side complement of the chunking/dedup tier (a reference
    user doing search-over-corpus gets this from the same token stream
    the dedup operators already verified). Emits one row per term:
    document frequency, total term frequency, and the ``max_postings``
    lowest doc ids as a comma-joined string (a bounded preview of the
    posting list — full lists would be written as a keyed table, not
    collected into one row).

    100 TB design: explode → two hash aggregates, both with map-side
    partials; the term stream shuffles once on (term, doc) and once on
    term. Output cardinality is vocabulary-sized (≪ corpus). The
    posting preview is capped BEFORE the aggregation buffer: a
    row_number over (term, doc-id order) marks the ``max_postings``
    lowest ids, and collect_list gathers ONLY those — a stopword term
    in 1e8 docs buffers 16 longs, never 1e8 (the window's term-keyed
    shuffle is the same exchange the final aggregate needs, so this
    costs no extra shuffle).
    """
    from pyspark.sql.window import Window

    terms = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    tf = terms.groupBy("term", id_col).agg(F.count("*").alias("tf"))
    w = Window.partitionBy("term").orderBy(F.col(id_col).asc())
    tf = tf.withColumn("__prn__", F.row_number().over(w))
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("total_tf"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("__prn__") <= max_postings, F.col(id_col)))
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("top_postings"),
        )
    )


def bm25_rank(
    df: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 relevance ranking of the corpus against a fixed bag of query
    terms — the classic retrieval scorer, hash-exact across engines:
    each per-term contribution is quantized to integer millionths
    (floor(x*1e6+0.5)) BEFORE the cross-term sum, so the final score is
    an exact integer sum — immune to float summation order — and every
    double op before the quantize is the same IEEE expression tree on
    both engines. The idf is the STANDARD log-form Robertson-Sparck-
    Jones weight ln((N - df + 0.5)/(df + 0.5)), computed with det_ln
    (plans/semantics.py) — a transcendental-free ln built from integer
    bit-length range reduction + an atanh series of IEEE +,-,*,/ ops,
    bit-identical across engines, so real BM25 multi-term ranking is
    preserved WITHOUT breaking the oracle discipline. (A log-free
    monotone idf would preserve per-term order but NOT the order of
    cross-term sums — rare terms would be overweighted ~N/df vs
    ln(N/df).) Common terms with df > N/2 get the classic negative RSJ
    weight, not Lucene's +1 floor — pinned convention, oracle-mirrored.

    100 TB design: one token-stream explode feeding two aggregates
    (per-doc length; per-(doc, query-term) tf after a broadcast-sized
    IN-list filter), a vocabulary-row df table broadcast back, and a
    1-row corpus-stats broadcast (allowlisted BNLJ) — the corpus text
    never shuffles, only the doc-keyed count tables do. Top-k is
    TakeOrderedAndProject, no global sort.
    """
    nonblank = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    toks = nonblank.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    # staged (r12): toks previously fed THREE consumers (dl, a single-
    # partition corpus token total, tf). total_toks = Σ dl is the
    # identical exact integer the old toks-count computed, so the
    # corpus text is now exploded twice (dl, tf) instead of three
    # times. The lazy pins on the two reduced tables are
    # REQUIRED, not optional: df_t and the stats total are broadcast /
    # single-partition builds over tf/dl, the shape AQE stage reuse
    # does NOT unify (OPTIMIZATION_r12.md finding #2) — an A/B without
    # them re-ran the explode subtrees per consumer and measured ~4×
    # slower at sf0.1 (OPTIMIZATION_r12.md).
    dl = pin(toks.groupBy(id_col).agg(F.count("*").alias("dl")))
    # corpus stats: N = ALL docs (blank docs count toward avgdl's
    # denominator — pinned convention, mirrored in the oracle)
    stats = df.select(F.lit(1).alias("one")).groupBy().agg(F.count("*").alias("n_docs")).crossJoin(
        dl.groupBy().agg(F.sum("dl").alias("total_toks"))
    )
    qterms = list(query_terms)
    tf = pin(
        toks.filter(F.col("term").isin(qterms))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs").cast("double")
    idf = det_ln(((F.col("n_docs") - F.col("df")) + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    contrib = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.floor((idf * tf_part) * F.lit(1e6) + F.lit(0.5)).cast("long").alias("c_e6"),
        )
    )
    scored = contrib.groupBy(id_col).agg(
        F.sum("c_e6").alias("score_e6"), F.count("*").alias("n_terms_hit")
    )
    return scored.orderBy(F.col("score_e6").desc(), F.col(id_col).asc()).limit(top_k)


def bpe_merge_candidates(df: DataFrame, text_col: str = "text", *, top_k: int = 20) -> DataFrame:
    """First round of BPE tokenizer training over the corpus: count
    adjacent character-pair occurrences inside words, weighted by word
    frequency — the statistic whose argmax IS the first BPE merge rule
    (Sennrich et al.; subsequent rounds re-run this on the merged symbol
    stream). Emits the ``top_k`` candidate merges.

    100 TB shape: the corpus collapses to the WORD-FREQUENCY table
    first (vocabulary-sized — the classic BPE-training trick), so the
    quadratic-ish pair explode runs over the vocabulary, not the token
    stream; one final pair aggregate + TakeOrderedAndProject.
    """
    words = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    wc = words.groupBy("w").agg(F.count("*").alias("n"))
    pairs = wc.select(
        "n",
        F.explode(
            F.when(
                F.length("w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def token_entropy(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Shannon entropy (nats) of each group's token distribution — the
    corpus-diversity statistic a training-data pipeline tracks per
    source/domain (low entropy = boilerplate/templated feeds; entropy
    collapse across snapshots = a crawler gone wrong). H = -Σ p·ln p
    over the group's term frequencies, with ln = det_ln
    (plans/semantics.py, transcendental-free) and each per-term
    contribution e6-floor-quantized BEFORE the cross-term sum, so the
    total is an exact integer sum — float-summation-order-free and
    hash-identical across engines. Accuracy note: p is quantized at e6
    inside det_ln, so terms rarer than ~1e-6 of a group's tokens
    contribute the clamped ln(1e-6) — identically on both engines.

    100 TB shape: one token explode feeding a (group, term) hash-agg,
    then a group-level agg; the k-row group-totals table broadcasts
    back. Two shuffles, corpus text never shuffles.
    """

    toks = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("grp", "term").agg(F.count("*").alias("n"))
    totals = tf.groupBy("grp").agg(
        F.sum("n").alias("total_tokens"), F.count("*").alias("n_terms")
    )
    p = F.col("n").cast("double") / F.col("total_tokens").cast("double")
    contrib = tf.join(F.broadcast(totals), "grp").select(
        "grp",
        "n_terms",
        "total_tokens",
        F.floor((F.lit(0.0) - p * det_ln(p)) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("c_e6"),
    )
    return contrib.groupBy(
        F.col("grp").alias(group_col), "n_terms", "total_tokens"
    ).agg(F.sum("c_e6").alias("entropy_e6"))


def kl_divergence(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group KL divergence KL(p_group ‖ p_corpus) of token
    distributions — the drift/quality gauge that catches a feed whose
    language shifted from the corpus norm (token_entropy measures
    within-group diversity; this measures against-corpus skew). Every
    group term exists in the corpus by construction, so p_corpus > 0
    and the sum is always finite. Both lns are det_ln; each term's
    p_s·(ln p_s − ln p_c) contribution is e6-floor-quantized BEFORE the
    exact integer sum (the BM25/entropy discipline).

    100 TB shape: the (group, term) aggregate is computed ONCE and
    feeds both marginals (group totals: k rows; corpus term counts:
    vocabulary-sized, broadcast back — the bm25 df_t pattern); the
    1-row corpus total rides the allowlisted scalar-broadcast
    crossJoin. Corpus text shuffles once.
    """

    toks = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    # staged (r12): tf_g feeds FOUR consumers (three marginals + the
    # contribution probe). AQE reuses only the map side of the shared
    # (grp, term) exchange; each consumer re-executes the reduce-side
    # final aggregate (vocabulary-sized) and replicates the subtree
    # through planning (the det_ln expression trees are large). The
    # lazy pin holds the aggregate once per invocation —
    # measured −11% at sf0.1 (OPTIMIZATION_r12.md).
    tf_g = pin(
        toks.groupBy("grp", "term")
        .agg(F.count("*").alias("n"))
    )
    tot_g = tf_g.groupBy("grp").agg(F.sum("n").alias("t_g"))
    tf_c = tf_g.groupBy("term").agg(F.sum("n").alias("n_c"))
    tot_c = tf_g.groupBy().agg(F.sum("n").alias("t"))
    p_s = F.col("n").cast("double") / F.col("t_g").cast("double")
    p_c = F.col("n_c").cast("double") / F.col("t").cast("double")
    contrib = (
        tf_g.join(F.broadcast(tot_g), "grp")
        .join(F.broadcast(tf_c), "term")
        .crossJoin(F.broadcast(tot_c))
        .select(
            "grp",
            "t_g",
            F.floor((p_s * (det_ln(p_s) - det_ln(p_c))) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("c_e6"),
        )
    )
    return contrib.groupBy(
        F.col("grp").alias(group_col), F.col("t_g").alias("total_tokens")
    ).agg(F.sum("c_e6").alias("kl_e6"))


def greedy_segment_stats(
    df: DataFrame,
    vocab_by_len: dict[int, list[str]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained subword vocabulary at corpus scale: greedy
    longest-match (WordPiece-style) segmentation of every whitespace
    token, entirely as ONE JVM-side Column expression — F.aggregate
    folds a (pos, n_pieces, n_singles) automaton over each word, taking
    the longest vocab unit that prefixes the remainder (single
    characters are implicitly in-vocab, so segmentation always
    terminates and there is no UNK). No Python in the hot path: the
    whole tokenizer-apply stays inside whole-stage codegen, the shape
    that survives 100 TB.

    The automaton is pure integer arithmetic on string prefixes, so a
    SQL recursive CTE replays it exactly (one recursion level per
    emitted piece, bounded by max word length). Returns one row per
    document: n_words, n_pieces, n_single (chars emitted alone), and
    chars_per_piece_e6 — the compression ratio that tells you how well
    the vocabulary fits the corpus.

    ``vocab_by_len`` maps unit length (>= 2) to its units; lengths try
    longest-first. Units must be quote-free literals."""
    lengths = sorted((int(k) for k in vocab_by_len), reverse=True)
    for length in lengths:
        for u in vocab_by_len[length]:
            if len(u) != length or "'" in u:
                raise ValueError(f"bad vocab unit {u!r} for length {length}")
    branches = []
    for length in lengths:
        lits = ", ".join(f"'{u}'" for u in vocab_by_len[length])
        branches.append(
            f"WHEN substring(w, acc.pos, {length}) IN ({lits}) "
            f"THEN named_struct('pos', acc.pos + {length}, 'n', acc.n + 1, 'n1', acc.n1)"
        )
    agg = f"""aggregate(
      sequence(1, length(w)),
      named_struct('pos', 1, 'n', 0, 'n1', 0),
      (acc, i) -> CASE
        WHEN acc.pos > length(w) THEN acc
        {' '.join(branches)}
        ELSE named_struct('pos', acc.pos + 1, 'n', acc.n + 1, 'n1', acc.n1 + 1)
      END,
      acc -> named_struct('n', acc.n, 'n1', acc.n1))"""
    toks = F.expr(rf"filter(split(lower(trim({text_col})), '\\s+'), x -> x != '')")
    # explode_outer + null filter: a plain explode of the computed
    # token array invites InferFiltersFromGenerate to push
    # size(filter(split(...)))>0 into the scan, tokenizing every doc a
    # second time (r10 DUP_EXPR audit); w IS NULL only for the empty
    # arrays the inner explode dropped
    words = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), toks.alias("__tk__"))
        .select(id_col, F.explode_outer("__tk__").alias("w"))
        .filter(F.col("w").isNotNull())
    )
    seg = words.select(id_col, F.length("w").alias("wlen"), F.expr(agg).alias("s"))
    ratio = F.col("chars").cast("double") / F.col("n_pieces").cast("double")
    return (
        seg.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("s.n").alias("n_pieces"),
            F.sum("s.n1").alias("n_single"),
            F.sum("wlen").alias("chars"),
        )
        .select(
            id_col,
            "n_words",
            "n_pieces",
            "n_single",
            F.floor(ratio * F.lit(1e6) + F.lit(0.5)).cast("long").alias("chars_per_piece_e6"),
        )
    )


def flesch_by_group(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Per-group mean Flesch Reading Ease, with the classic
    syllable-free approximation: syllables ≈ vowel groups
    ([AEIOUYaeiouy]+ runs), clamped to ≥ the word count (every word has
    at least one syllable — pinned convention, oracle-mirrored).
    Words = [A-Za-z]+ runs; sentences = [.!?]+ runs clamped to ≥ 1.

        score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    Each doc's score is e6-floor-quantized BEFORE the group sum (the
    BM25/KL discipline — cross-doc addition happens on exact longs),
    then ONE division yields the mean. Zero-word docs drop.

    100 TB shape: three JVM regexp counters per doc at scan speed, one
    map-side-combined hash-agg — no explode, no Python, no shuffle
    beyond the group key."""
    w = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+"))
    s = F.greatest(F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1))
    y = F.greatest(F.regexp_count(F.col(text_col), F.lit(r"[AEIOUYaeiouy]+")), w)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w.cast("double") / s.cast("double"))
        - F.lit(84.6) * (y.cast("double") / w.cast("double"))
    )
    per_doc = (
        df.filter(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .select(
            F.col(group_col),
            w.alias("__w__"),
            F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("long").alias("__sc__"),
        )
        .filter(F.col("__w__") > 0)
    )
    return per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.floor(
            F.sum("__sc__").cast("double") / F.count(F.lit(1)).cast("double") + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_flesch_e6"),
    )


def exact_substring_hits(
    corpus: DataFrame,
    needles: DataFrame,
    *,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    needle_id: str = "eval_id",
    needle_text: str = "needle",
) -> DataFrame:
    """EXACT-match tier of benchmark decontamination: every (train doc,
    eval needle) pair where the needle occurs verbatim, with its first
    1-based character position — the zero-false-positive complement of
    the shingle-overlap check (contamination_hits), catching short eval
    samples embedded inside long train docs that set-overlap scoring
    dilutes away.

    100 TB shape: the needle table (an eval set — thousands of rows,
    not billions) BROADCASTS and sweeps the partitioned corpus — the
    allowlisted ann-style nested loop, linear in the corpus; the JVM
    substring search runs at scan speed and emits only hits. Never a
    corpus×corpus product."""
    # an empty/blank needle would "hit" EVERY document at position 1
    # (locate('', text) = 1) — one blank eval row marking the whole
    # corpus contaminated and producing corpus-sized output
    clean = needles.select(needle_id, needle_text).filter(
        F.length(F.col(needle_text)) > 0
    )
    hits = corpus.select(corpus_id, corpus_text).join(F.broadcast(clean))
    pos = F.expr(f"locate(`{needle_text}`, `{corpus_text}`)")
    return (
        hits.select(corpus_id, needle_id, pos.alias("position"))
        .filter(F.col("position") > 0)
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k adjacent word pairs by pointwise mutual information
    ln(c12·N/(c1·c2)) — the classic collocation detector feeding
    tokenizer merge rules and stop-phrase lists. Tokens are lowercase
    [a-z]+ runs; counts are three exact aggregates (unigram, bigram,
    1-row total); the ln is det_ln and pmi quantizes to e6 BEFORE the
    ranking so ties are deterministic; bigrams below ``min_count``
    drop as noise.

    100 TB shape: two token-keyed aggregates over one scan family;
    count tables are vocabulary-sized → broadcast joins; N rides the
    allowlisted 1-row crossJoin; top-k is TakeOrderedAndProject."""

    docs = df.filter(F.col(text_col).isNotNull())
    toks = docs.select(
        F.expr(f"filter(split(lower({text_col}), '[^a-z]+'), t -> t != '')").alias("ts")
    )
    # explode_outer + null filter, NOT a plain explode: the generate
    # inference pushes size(filter(split(...)))>0 into the scan and
    # re-tokenizes every doc (r10 DUP_EXPR audit); outer generates are
    # skipped by the rule, and w/b IS NULL only for the empty arrays
    # the inner explode dropped
    uni = (
        toks.select(F.explode_outer("ts").alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("N"))
    # guard size < 2 via the CASE (NULL array for 1-token docs), never
    # a filter on the computed array: sequence(0, -1) silently DESCENDS
    # ([0, -1]) and ts[1] on a 1-token doc is an ANSI index error — the
    # same default-step footgun range_join pins — while a size() filter
    # re-tokenizes at the scan
    bi = (
        toks.select(
            F.explode_outer(
                F.expr(
                    "CASE WHEN size(ts) >= 2 THEN"
                    " transform(sequence(0, size(ts) - 2),"
                    " i -> struct(ts[i] as w1, ts[i+1] as w2)) END"
                )
            ).alias("b")
        )
        .filter(F.col("b").isNotNull())
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= int(min_count))
    )
    scored = (
        bi.join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))), "w2")
        .crossJoin(F.broadcast(total))
    )
    ratio = (F.col("c12") * F.col("N")).cast("double") / (
        F.col("c1") * F.col("c2")
    ).cast("double")
    pmi_e6 = F.floor(det_ln(ratio) * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (
        scored.select("w1", "w2", "c12", pmi_e6.alias("pmi_e6"))
        .orderBy(F.col("pmi_e6").desc(), "w1", "w2")
        .limit(int(k))
    )


# ---------------------------------------------------------------------------
# Web-corpus ingest: HTML boilerplate stripping + URL canonicalization.
# The first two stages of every crawl-based pretraining pipeline (CCNet,
# Wenzek et al. 2020; RefinedWeb, Penedo et al. 2023; text-density line
# filtering after jusText, Pomikálek 2011). Beyond-reference: the
# reference engine has no text surface at all (its string handling is
# fmt.Sprint coercion, valueContainers.go:341-398) — these exist because
# real corpora arrive as HTML with duplicated provenance URLs.
# All pure Column regexp/array algebra: RE2-compatible patterns (no
# backreferences, no lookaround; flags embedded as (?is)) so the SAME
# pattern strings run under Spark's Java regex and DuckDB's RE2 oracle.
# ---------------------------------------------------------------------------

#: Container blocks removed WITH their content — rendered pages never
#: show script/style/comment/noscript/template text, and <head>
#: content (meta, link, base, title) is chrome, not page text (r11
#: VERDICT: all of these previously survived the tag-only strip AS
#: TEXT). <svg> is a KNOWN OVER-REMOVAL: SVG <text>/<title> elements
#: DO render (inline charts, SVG headings) and are lost with the
#: block — accepted because the overwhelming bulk of SVG content is
#: path data that would otherwise leak into the corpus as junk
#: attribute soup; a caller who needs SVG text extraction wants a real
#: parser, not this pass. Non-greedy + (?s) so each block closes at
#: ITS end tag.
#: <head> runs FIRST so a script/style inside it can't eat past the
#: head's own close tag; script/style/svg still match standalone
#: occurrences in the body.
MARKUP_BLOCK_PATTERNS: tuple[str, ...] = (
    r"(?is)<!--.*?-->",
    r"(?is)<head\b[^>]*>.*?</head\s*>",
    r"(?is)<script\b[^>]*>.*?</script\s*>",
    r"(?is)<style\b[^>]*>.*?</style\s*>",
    r"(?is)<noscript\b[^>]*>.*?</noscript\s*>",
    r"(?is)<template\b[^>]*>.*?</template\s*>",
    r"(?is)<svg\b[^>]*>.*?</svg\s*>",
)

#: Closing a block-level element ends a visual line — replaced with \n
#: (not space) so the text-density filter sees the page's real line
#: structure instead of one glued mega-line.
MARKUP_BLOCK_CLOSE_PATTERN = (
    r"(?is)</(?:p|div|li|ul|ol|h[1-6]|tr|table|section|article|header"
    r"|footer|nav|blockquote|title)\s*>|<br\s*/?>"
)

#: Any remaining tag → single space (inline tags like <b> must not glue
#: the words around them together).
MARKUP_ANY_TAG_PATTERN = r"(?s)<[^>]*>"

#: Latin-1 letter codepoints decoded BY CHARACTER (r12 review: the
#: numeric catchall turned '&#233;' into a space, splitting 'café'
#: into 'caf' + junk — accented-letter references are ubiquitous on
#: older/non-English pages, and a letter reference sits INSIDE a word,
#: so space-substitution corrupts the token every downstream stage
#: consumes: LM scores, BPE vocab, shingles, boilerplate line
#: frequencies). Symbol/punctuation codepoints stay with the catchall:
#: a symbol→space never splits a word. 215/247 (×, ÷) are excluded as
#: symbols; the Latin-Extended tail covers the œ/š/ž/Ÿ family French,
#: Czech and transliterated names actually use.
_LETTER_CODEPOINTS: tuple[int, ...] = tuple(
    cp for cp in range(192, 256) if cp not in (215, 247)
) + (338, 339, 352, 353, 376, 381, 382)


def _letter_entity_patterns() -> tuple[tuple[str, str], ...]:
    """ONE (pattern, char) per letter codepoint, folding the named form
    ('&eacute;' — case-SENSITIVE, from the stdlib HTML4 table; absent
    for the few HTML5-only names like &zcaron;) together with the
    decimal and hex numeric forms ((?i:) group — hex digits and the
    'x' are case-insensitive, names are not). One pass per CHARACTER,
    not per form: the DuckDB oracle binds the rendered chain with a
    hard expression-recursion limit (128), and the driver runs it on a
    vanilla connection — depth is a correctness budget here, not a
    style preference (and fewer passes is strictly faster on the Spark
    side as well)."""
    import html.entities as _he

    out = []
    for cp in _LETTER_CODEPOINTS:
        num = rf"(?i:#(?:0*{cp}|x0*{cp:x});)"
        name = _he.codepoint2name.get(cp)
        pat = rf"&(?:{name};|{num})" if name else rf"&{num}"
        out.append((pat, chr(cp)))
    return tuple(out)


#: The named entities worth decoding without an HTML parser; ordered so
#: that &amp; decodes LAST (else '&amp;lt;' would double-decode into
#: '<').
MARKUP_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&amp;", "&"),
)

#: Numeric/hex character references (r11 VERDICT: '&#xAB;' previously
#: passed through undecoded): the common punctuation set AND the
#: Latin-1 letter range decode to their characters — each pattern
#: accepts decimal and (?i) hex forms with leading zeros — and
#: MARKUP_NUMERIC_CATCHALL turns any OTHER numeric reference into a
#: space (rare SYMBOL codepoints are noise for corpus text; a space
#: never glues words — but letters MUST decode, see _LETTER_CODEPOINTS:
#: a space inside 'caf&#233;' splits the word). The soft hyphen (173)
#: is the other in-word case: it must vanish entirely. Runs BEFORE the
#: &amp; decode so escaped references a user literally typed
#: ('&amp;#65;' → text '&#65;') survive, the same single-application
#: contract as &lt;.
MARKUP_NUMERIC_ENTITIES: tuple[tuple[str, str], ...] = (
    (r"(?i)&#(?:0*39|x0*27);", "'"),
    (r"(?i)&#(?:0*34|x0*22);", '"'),
    (r"(?i)&#(?:0*60|x0*3c);", "<"),
    (r"(?i)&#(?:0*62|x0*3e);", ">"),
    (r"(?i)&#(?:0*160|x0*a0);", " "),  # nbsp
    # soft hyphen (named + numeric): in-word, must VANISH, never space
    (r"&(?:shy;|(?i:#(?:0*173|x0*ad);))", ""),
    (r"(?i)&#(?:0*8211|x0*2013);", "–"),  # en dash
    (r"(?i)&#(?:0*8212|x0*2014);", "—"),  # em dash
    (r"(?i)&#(?:0*8216|x0*2018);", "‘"),  # left single quote
    (r"(?i)&#(?:0*8217|x0*2019);", "’"),  # right single quote
    (r"(?i)&#(?:0*8220|x0*201c);", "“"),  # left double quote
    (r"(?i)&#(?:0*8221|x0*201d);", "”"),  # right double quote
    (r"(?i)&#(?:0*8230|x0*2026);", "…"),  # ellipsis
) + _letter_entity_patterns()
#: The ampersand reference normalizes to the NAMED form before the
#: catchall (so the catchall can't eat it) and then decodes with &amp;
#: at the very end — '&#38;#60;' becomes literal text '&#60;', never a
#: chain-decoded '<' or a swallowed space.
MARKUP_AMP_NUMERIC = r"(?i)&#(?:0*38|x0*26);"
MARKUP_NUMERIC_CATCHALL = r"(?i)&#(?:[0-9]+|x[0-9a-f]+);"


def strip_markup(col: Column) -> Column:
    """Markup → text: drop comment/head/script/style/noscript/template/
    svg blocks with content (none renders as page text), turn
    block-close tags into newlines, drop every other tag, decode the
    common named + numeric entities (unrecognized numeric references →
    space), collapse horizontal whitespace, and squeeze blank lines.
    NULL text stays NULL. Pure regexp_replace chain — one pass per
    pattern at scan speed, no parser, no UDF. (A browser-grade HTML5
    parser is out of scope by design: for corpus prep the regex strip
    is the standard cheap pass, and malformed markup degrades to extra
    whitespace, never to an exception.)

    SINGLE-application contract: entity decode runs AFTER tag removal,
    so escaped markup in the source ('&lt;b&gt;' — literal text a user
    typed) correctly survives as '<b>' text, and '&amp;#60;' survives
    as '&#60;' (the ampersand forms — &amp; and &#38; — decode LAST,
    after the numeric catchall, so no chain-decode is possible).
    Re-applying the cleaner to its own output would strip those
    literals — apply once, at ingest (pinned in tests/test_r11_ops.py
    and tests/test_r12_ops.py)."""
    out = col
    for pat in MARKUP_BLOCK_PATTERNS:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, MARKUP_BLOCK_CLOSE_PATTERN, "\n")
    out = F.regexp_replace(out, MARKUP_ANY_TAG_PATTERN, " ")
    for ent, rep in MARKUP_ENTITIES[:-1]:  # all named except &amp;
        out = F.replace(out, F.lit(ent), F.lit(rep))
    for pat, rep in MARKUP_NUMERIC_ENTITIES:
        out = F.regexp_replace(out, pat, rep)
    out = F.regexp_replace(out, MARKUP_AMP_NUMERIC, "&amp;")
    out = F.regexp_replace(out, MARKUP_NUMERIC_CATCHALL, " ")
    out = F.replace(out, F.lit("&amp;"), F.lit("&"))  # LAST, by contract
    out = F.regexp_replace(out, r"[ \t\r]+", " ")  # horizontal collapse
    out = F.regexp_replace(out, r" ?\n[ \n]*", "\n")  # blank-line squeeze
    # edge trim by PATTERN, not TRIM(): both engines' TRIM eats spaces
    # only, which would leave a trailing \n from a final block close
    return F.regexp_replace(out, r"^[\n ]+|[\n ]+$", "")


def density_line_filter(col: Column, *, min_words: int = 5) -> Column:
    """Text-density boilerplate line filter (the jusText heuristic's
    cheap core): keep only lines with >= ``min_words`` space-separated
    words — navigation / footer / menu lines are short. Expects
    strip_markup's normalized output (single-space word gaps, \\n line
    gaps). Returns the kept lines rejoined with \\n; all-boilerplate
    input returns the empty string."""
    lines = F.split(col, "\n")
    kept = F.filter(
        lines,
        lambda ln: F.size(F.split(F.trim(ln), " ")) >= F.lit(int(min_words)),
    )
    return F.array_join(F.transform(kept, F.trim), "\n")


def strip_boilerplate(col: Column, *, min_words: int = 5) -> Column:
    """strip_markup → density_line_filter: the composed HTML-to-clean-
    text ingest stage every web corpus runs before any quality /
    dedup op applies."""
    return density_line_filter(strip_markup(col), min_words=min_words)


#: Query params that identify a CAMPAIGN, not a resource — stripping
#: them is the core of URL canonicalization (CCNet / RefinedWeb dedup
#: keys on the canonical URL). Each entry is a regex alternative
#: matched against 'key=' or bare 'key'. A DEFAULT, not a law: on some
#: corpora 'ref' is content-bearing (code-hosting branch refs, ?ref=rss
#: article variants — r11 ADVICE) — pass ``tracking_params`` to
#: canonical_url to override per corpus.
DEFAULT_TRACKING_PARAMS: tuple[str, ...] = (
    "utm_[^=]*", "gclid", "fbclid", "ref", "igshid", "mc_eid",
)


def tracking_param_pattern(params: tuple[str, ...] = DEFAULT_TRACKING_PARAMS) -> str:
    """The anchored alternation canonical_url filters query params with."""
    return "^(" + "|".join(params) + ")(=|$)"


def canonical_url(
    col: Column, *, tracking_params: tuple[str, ...] = DEFAULT_TRACKING_PARAMS
) -> Column:
    """Canonicalize a URL for provenance-level dedup: lowercase scheme
    and host, strip a leading 'www.', drop the default port (:80 http /
    :443 https), drop the fragment, strip trailing slashes from the
    path, remove tracking params, and SORT the surviving query params
    (param order is transport noise). Pure regexp/array algebra with an
    exact DuckDB twin (_URL_CANON_CTES in queries.py). Not a full
    RFC 3986 resolver — no percent-decoding or path-segment dot
    removal, the same scope CCNet's URL keys use. ``tracking_params``
    overrides the campaign-param list (regex alternatives) for corpora
    where a default entry — 'ref' especially — is content-bearing
    (r11 ADVICE)."""
    u = F.trim(col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(
        F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", ""), r"#.*$", ""
    )
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1)), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    port_part = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(F.regexp_extract(pathq, r"^([^?]*)", 1), r"/+$", "")
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(tracking_param_pattern(tracking_params)),
    )
    qcanon = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        port_part,
        path,
        F.when(qcanon == "", F.lit("")).otherwise(F.concat(F.lit("?"), qcanon)),
    )


def url_host(col: Column) -> Column:
    """The canonical host alone (lowercased, www-stripped, port
    dropped) — the per-domain grouping key for crawl stats."""
    u = F.trim(col)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    return F.regexp_replace(
        F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1)), r"^www\.", ""
    )


def unigram_viterbi_segment(
    df,
    vocab_lp_e6: dict[str, int],
    *,
    word_col: str = "word",
    max_piece_len: int = 4,
    max_word_len: int = 12,
    missing_lp_e6: int = -20_000_000,
):
    """Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer APPLY:
    Viterbi-segment each word into the vocabulary pieces maximizing the
    summed integer log-probabilities. Completes the tokenizer family —
    bpe_merge_candidates TRAINS merges, greedy_segment_stats applies
    WordPiece longest-match; this is the probabilistic apply.

    Adds columns: pieces ('|'-joined best segmentation), n_pieces,
    score_e6 (BIGINT sum of piece log-probs ×1e6 — exact-integer, the
    naive-Bayes det_ln discipline, so no float order can flip an
    argmax). Ties prefer the LONGER final piece (higher k in the
    struct-max), matching the generated SQL oracle's largest-k-first
    CASE ladder. Pieces absent from the vocab cost ``missing_lp_e6``
    (more negative than any real piece), so any input still segments —
    per-char fallback, never a crash. Words longer than
    ``max_word_len`` yield NULL outputs (flagged, not silently
    truncated); the empty word yields pieces='' / n_pieces=0 /
    score_e6=NULL (no position ⇒ no path score).

    Shape: the DP and its backtrack are each ONE F.aggregate fold
    (state = the growing dp/ptr arrays; candidates via relative
    negative indexing into the last ``max_piece_len`` dp values, vocab
    via a literal-map lookup). Two folds + one projection — expression
    size is LINEAR in max_word_len, so plan analysis stays O(1) per
    row batch. (A chained-withColumn DP was 12 s of driver-side
    analysis for W=12 — measured and replaced; the fold runs
    interpreted, which is fine because the intended input is the
    DISTINCT-word table: Zipf — distinct words ≪ tokens. To tokenize
    a 100 TB token stream, run this over distinct words and broadcast
    the result back; never re-run the DP per occurrence.)
    No UDF, no join, no shuffle, no collect.

    The word table is widened to cluster parallelism first (r12,
    operators/layout.widen_narrow_scan): the per-word DP fold is the
    whole cost here and the distinct-word input usually arrives
    AQE-coalesced to one tiny partition — serial without the widen; on
    already-wide inputs the widen is a no-op.
    """
    from tada_spark.operators.layout import widen_narrow_scan

    df = widen_narrow_scan(df)
    W, L = int(max_word_len), int(max_piece_len)
    w = F.col(word_col)
    n = F.length(w)
    lpmap = F.create_map(
        *[x for p, lp in sorted(vocab_lp_e6.items()) for x in (F.lit(p), F.lit(int(lp)))]
    )

    def lp(piece: Column) -> Column:
        return F.coalesce(F.element_at(lpmap, piece), F.lit(int(missing_lp_e6)))

    def dp_step(acc: Column, i: Column) -> Column:
        # acc.dps holds dp_0..dp_{i-1}; candidate k consumes the piece
        # word[i-k+1 .. i] and extends dp_{i-k} = element_at(dps, -k).
        # Invalid k (> i) yields a NULL struct via the when() guard,
        # which greatest() skips; k=1 is always valid. Ties: equal s →
        # larger k (longer piece) wins the struct max — the oracle's
        # largest-k-first CASE twin.
        cands = [
            F.when(
                i >= k,
                F.struct(
                    (
                        F.try_element_at(acc["dps"], F.lit(-k))
                        + lp(F.substr(w, i - k + 1, F.lit(k)))
                    ).alias("s"),
                    F.lit(k).alias("k"),
                ),
            )
            for k in range(L, 0, -1)
        ]
        best = F.greatest(*cands) if len(cands) > 1 else cands[0]
        return F.struct(
            F.concat(acc["dps"], F.array(best["s"])).alias("dps"),
            F.concat(acc["ptrs"], F.array((i - best["k"]).cast("int"))).alias("ptrs"),
        )

    positions = F.when(n >= 1, F.sequence(F.lit(1), F.least(n, F.lit(W)))).otherwise(
        F.array().cast("array<int>")
    )  # sequence(1, 0) would be the DESCENDING [1, 0] — guard empty words
    dp_init = F.struct(
        F.array(F.lit(0).cast("long")).alias("dps"),
        F.array().cast("array<int>").alias("ptrs"),
    )
    out = df.withColumn("__vit__", F.aggregate(positions, dp_init, dp_step))

    ptrs = F.col("__vit__")["ptrs"]
    dps = F.col("__vit__")["dps"]

    def bt_step(acc: Column, _s: Column) -> Column:
        # nullif+try_element_at: cur hits 0 when the walk finishes, and
        # index 0 is an ERROR for element_at AND try_element_at alike
        # (INVALID_INDEX_OF_ZERO); nullif routes it to NULL, which the
        # when(cur > 0) guard then consumes
        cur = acc["cur"]
        prev = F.try_element_at(ptrs, F.nullif(cur, F.lit(0)))
        piece = F.substr(w, prev + 1, cur - prev)
        return F.when(
            cur > 0,
            F.struct(
                prev.alias("cur"),
                F.concat(F.array(piece), acc["pieces"]).alias("pieces"),
            ),
        ).otherwise(acc)

    bt_init = F.struct(
        F.when(n <= W, n.cast("int")).alias("cur"),
        F.array().cast("array<string>").alias("pieces"),
    )
    out = out.withColumn(
        "__seg__",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(W)), bt_init, bt_step, lambda st: st["pieces"]
        ),
    )
    return out.select(
        *df.columns,
        F.when(n <= W, F.array_join(F.col("__seg__"), "|")).alias("pieces"),
        F.when(n <= W, F.size(F.col("__seg__"))).cast("int").alias("n_pieces"),
        F.when(
            (n >= 1) & (n <= W), F.try_element_at(dps, n + 1)
        ).cast("long").alias("score_e6"),
    )


def lm_bits_per_piece_e6(score_e6: Column, n_pieces: Column) -> Column:
    """Document LM quality score: bits-per-piece ×1e6 from an
    exact-integer unigram-LM path score (the CCNet-class wellformedness
    signal — Wenzek et al. 2020 filter on LM perplexity; bits/piece =
    log2 perplexity, the same ordering with no exp() to disagree on).

    ``score_e6`` is the summed piece log-prob ×1e6 (BIGINT, from
    unigram_viterbi_segment), ``n_pieces`` the piece count, so
    -score_e6 / n_pieces is nats-per-piece ×1e6; one division by ln 2
    converts to bits. Both engines compute the same IEEE-754 double
    quotient and FLOOR(x + 0.5) half-up rounding — the chars_per_piece
    discipline — so the result hash-matches the DuckDB twin. Empty
    docs (n_pieces = 0) yield NULL: no pieces ⇒ no rate."""
    import math

    return (
        F.when(
            n_pieces > 0,
            F.floor(
                -score_e6.cast("double")
                / n_pieces.cast("double")
                / F.lit(math.log(2.0))
                + F.lit(0.5)
            ),
        )
    ).cast("long")


#: A fixed BPE merge table (rank order — each compound's constituents
#: appear earlier, the property real BPE training guarantees) — ONE
#: Python constant rendered into BOTH the Spark REPLACE chain and the
#: SQL oracle (the _UNIGRAM_VOCAB_COUNTS discipline).
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("t", "a"), ("th", "e"), ("a", "n"), ("i", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("s", "t"),
    ("e", "n"), ("o", "r"), ("d", "a"), ("da", "ta"), ("l", "e"),
    ("an", "d"), ("o", "u"), ("q", "u"), ("qu", "er"), ("in", "g"),
    ("l", "l"),  # SELF-pair: exercises the 2-space delimiter scheme
)

def bpe_apply(col: Column, merges: tuple[tuple[str, str], ...] = BPE_MERGES) -> Column:
    """BPE tokenizer APPLY (Sennrich et al. 2016; the GPT-2 scheme):
    split the word into characters and apply the merge table in RANK
    order, each rank merging ALL its occurrences leftmost-first.
    Rank-order full-merge
    is exact BPE because a pair of rank r can only be created by merges
    of rank < r (the training invariant). Completes the BPE family —
    bpe_merge_candidates TRAINS the table, this applies it; pairs with
    greedy_segment_stats (WordPiece apply) and unigram_viterbi_segment
    (unigram apply).

    Delimiter design (load-bearing): tokens are separated by TWO
    spaces and each rank's pattern ``' l  r '`` consumes only the
    INNER space of each flanking delimiter, so adjacent matches never
    overlap and ONE left-to-right REPLACE pass merges every
    occurrence, leftmost-first — including runs under SELF-pair merges
    like ('l','l'), where a single-space scheme strands every second
    pair ('llll' -> [ll, l, l] instead of [ll, ll]; review-caught,
    pinned in tests/test_r12_ops.py). The replacement ``' lr '``
    restores the 2-space delimiter via the unconsumed outer spaces.
    Space is the one character a whitespace-split token can never
    contain, so the delimiter cannot collide with word content.

    Pure string algebra — char split via one regexp, then a BOUNDED
    chain of constant-literal REPLACEs (ONE per merge rank),
    whole-stage-codegen'd, no UDF. Intended input is the DISTINCT-word
    table (Zipf: distinct words ≪ tokens); broadcast the result back
    onto the token stream, never re-apply per occurrence. Returns the
    piece ARRAY (derive joins/counts from the one array so the chain
    evaluates once); NULL word → NULL."""
    # '  a  b  c  ' — 2-space delimiters everywhere, incl. the edges
    e = F.concat(F.lit("  "), F.regexp_replace(col, r"(.)", r"$1  "))
    for left, right in merges:
        e = F.replace(e, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} "))
    return F.split(F.trim(e), "  ")
