"""Tests for the training-data function tier (text/dedup/similarity/multimodal)."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from conftest import SIZE_PATHS, size_path
from tada_spark.functions import dedup, multimodal, similarity, text


def test_token_count_and_ratios(spark):
    df = spark.createDataFrame([("the cat and the hat",), ("",), ("  ",)], "t string")
    out = df.select(
        text.token_count(F.col("t")).alias("n"),
        text.stopword_ratio(F.col("t")).alias("sw"),
    ).collect()
    assert out[0].n == 5
    assert math.isclose(out[0].sw, 3 / 5)
    assert out[1].n == 0 and out[2].n == 0


def test_char_shingles(spark):
    df = spark.createDataFrame([("abcd",)], "t string")
    sh = df.select(text.char_shingles(F.col("t"), 3).alias("s")).first().s
    assert sorted(sh) == ["abc", "bcd"]


def test_fingerprint_normalization(spark):
    """Same text modulo case/punctuation/whitespace ⇒ same fingerprint."""
    df = spark.createDataFrame([("Hello,  World!",), ("hello world",)], "t string")
    fps = [r.fp for r in df.select(text.fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same doc"), (2, "same doc"), (3, "other")], "doc_id long, text string"
    )
    out = {r.keep_id: r.n_dups for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_near_dup_and_is_deterministic(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely different words about spark distributed data processing engines"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    pairs2 = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(df).collect()}
    assert pairs == pairs2  # md5-derived hashing: fully deterministic


def test_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefgx"), (3, "zzzzzzzz")], "doc_id long, text string"
    )
    for path in SIZE_PATHS:
        with size_path(spark, path):
            out = {(r.id_a, r.id_b): r.jaccard for r in dedup.jaccard_pairs(df, threshold=0.3).collect()}
        assert (1, 2) in out and out[(1, 2)] > 0.5, path
        assert (1, 3) not in out, path


def test_simhash_close_for_similar_texts(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    out = dedup.simhash_bands(df).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in out}
    if (1, 2) in ham and (1, 3) in ham:
        assert ham[(1, 2)] < ham[(1, 3)]


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(20, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    # numpy reference
    v = vecs.astype("float64")
    cos = v @ v[0] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    cos[0] = -np.inf
    expect = list(np.argsort(-cos)[:3])
    assert [g[0] for g in got] == [int(e) for e in expect]


def test_lsh_cosine_candidates_contains_true_neighbor(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=16).astype("float32")
    near = base + rng.normal(scale=0.01, size=16).astype("float32")
    far = rng.normal(size=16).astype("float32")
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near]), (2, [float(x) for x in far])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = [[float(x) for x in rng.normal(size=16)] for _ in range(4)]
    out = {(r.id_a, r.id_b) for r in similarity.lsh_cosine_candidates(df, planes, threshold=0.9).collect()}
    assert (0, 1) in out


def test_multimodal_image_features_pipeline(spark):
    """Distributed decode plumbing: mapInPandas over binary payloads.
    Decode kernel is a deterministic stub (no image libs in container)."""
    rows = [(i, bytes([i % 251] * (100 + i))) for i in range(10)] + [(99, b"")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = multimodal.image_features(df).collect()
    assert len(out) == 10  # empty payload dropped
    assert all(r.n_bytes >= 100 for r in out)
    assert all(16 <= r.width < 80 for r in out)


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 90), (2, 10)], "media_id long, n_frames int")
    out = multimodal.frame_sample_plan(df, every_n=30).collect()
    got = sorted((r.media_id, r.frame_idx) for r in out)
    assert got == [(1, 0), (1, 30), (1, 60), (2, 0)]


def test_audio_features_stub_pipeline(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"abcdef")), (2, bytearray(b"")), (3, None)],
        "media_id long, payload binary",
    )
    out = {r.media_id: r for r in multimodal.audio_features(df).collect()}
    assert set(out) == {1}  # empty/null payloads dropped (null-skipping)
    r = out[1]
    assert r.sample_rate == 8000 + (ord("a") % 3) * 4000
    assert r.duration_s == round(6 / r.sample_rate, 6)
    assert 0.0 < r.rms < 1.0


def test_deterministic_sample_partition_invariant(spark):
    from tada_spark.functions import sampling

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = sorted(r.doc_id for r in sampling.deterministic_sample(df, "doc_id", 30).collect())
    b = sorted(
        r.doc_id
        for r in sampling.deterministic_sample(df.repartition(17), "doc_id", 30).collect()
    )
    assert a == b and 0 < len(a) < 500  # same rows whatever the layout
    split = sampling.assign_split(df, "doc_id")
    counts = {r.split: r["count"] for r in split.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 500  # exhaustive + exclusive
    assert counts["train"] > counts["val"]


def test_winnow_and_bpe(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "the quick brown fox jumps over the lazy dog again and again"),
         (3, "completely different content with no overlap whatsoever here")],
        "doc_id long, text string",
    )
    fps = text.winnow_fingerprints_long(df, id_col="doc_id", text_col="text", k=8, w=4)
    by_doc = {r.doc_id: set() for r in df.collect()}
    for r in fps.collect():
        by_doc[r.doc_id].add(r.fp)
    assert by_doc[1] == by_doc[2]  # identical docs → identical fingerprints
    assert by_doc[1] != by_doc[3]
    # long form ≡ array form
    arr = df.filter(F.col("doc_id") == 1).select(
        F.explode(text.winnow_fingerprint(F.col("text"), k=8, w=4)).alias("fp")
    )
    assert {r.fp for r in arr.collect()} == by_doc[1]
    bpe = {r.doc_id: r.n for r in df.select("doc_id", text.bpe_token_estimate(F.col("text")).alias("n")).collect()}
    assert bpe[1] == bpe[2] > 10


def test_minhash_empty_docs_no_signature(spark):
    """Empty/whitespace-only docs get NO signature on either minhash path
    (array path: NULL; long path: dropped) — they must not collide as
    LSH candidates of each other."""
    from tada_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real words here now")], "doc_id long, text string"
    )
    sh = df.select("doc_id", word_shingles(F.col("text")).alias("s")).collect()
    by_id = {r.doc_id: r.s for r in sh}
    assert by_id[1] is None and by_id[2] is None  # NULL, single-eval convention
    sig = df.select(
        "doc_id", dedup.minhash_signature(F.col("text")).alias("sig")
    ).collect()
    sig_by_id = {r.doc_id: r.sig for r in sig}
    assert sig_by_id[1] is None and sig_by_id[2] is None
    assert sig_by_id[3] is not None and len(sig_by_id[3]) == 16
    # long-form path: empty docs simply absent
    long_ids = {r.doc_id for r in dedup.minhash_signatures(df).collect()}
    assert long_ids == {3}


def test_lsh_cosine_pairs_multi_table_recall(spark):
    """OR-ed multi-table sign-LSH finds planted near-dup pairs without
    any cross join in the plan (per-bucket equi-joins only)."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(30)]
    planted = [(i + 100, [v + (0.001 if j == 0 else 0.0) for j, v in enumerate(vec)]) for i, vec in base]
    df = spark.createDataFrame(base + planted, "vec_id long, embedding array<double>")
    tables = similarity.random_planes(dim=16, n_planes=6, n_tables=6, seed=11)
    out = similarity.lsh_cosine_pairs(df, tables, threshold=0.999)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(i, i + 100) for i in range(30)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # determinism: same seed, same planes
    assert similarity.random_planes(16, 6, 2, seed=11) == similarity.random_planes(16, 6, 2, seed=11)


def test_minhash_null_text_no_signature(spark):
    """NULL text must behave like empty text on the array path: NULL
    shingles, NULL signature — not a shared fabricated '' shingle that
    makes every null-text doc a candidate pair of every other."""
    from tada_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "real words here now")], "doc_id long, text string"
    )
    sh = {r.doc_id: r.s for r in df.select("doc_id", word_shingles(F.col("text")).alias("s")).collect()}
    assert sh[1] is None and sh[2] is None
    sig = {r.doc_id: r.sig for r in df.select("doc_id", dedup.minhash_signature(F.col("text")).alias("sig")).collect()}
    assert sig[1] is None and sig[2] is None and sig[3] is not None


def test_gopher_quality_rules(spark):
    """Gopher/C4 rule edges: a clean long doc keeps; short docs,
    symbol soup, bullet lists, and stopword-free keyword stuffing drop."""
    clean = ("the data and the model be good to train with that set have " * 10).strip()
    short = "the and of to"
    symbols = ("# tag " * 60).strip()
    bullets = "\n".join("- the data and model be good to train with that set have" for _ in range(20))
    stuffing = ("keyword spam vector table index column row batch " * 10).strip()
    df = spark.createDataFrame(
        [(1, clean), (2, short), (3, symbols), (4, bullets), (5, stuffing)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in df.select(
        "doc_id",
        text.gopher_keep(F.col("text")).alias("keep"),
        text.mean_word_length(F.col("text")).alias("mwl"),
        text.symbol_word_ratio(F.col("text")).alias("swr"),
        text.gopher_stop_hits(F.col("text")).alias("hits"),
    ).collect()}
    assert out[1].keep is True
    assert out[2].keep is False          # too few words
    assert out[3].keep is False and out[3].swr > 0.1
    assert out[4].keep is False          # bullet-heavy
    assert out[5].keep is False and out[5].hits == 0
    # line fractions on a multi-line doc
    lf = text.line_fractions(F.col("text"))
    row = df.filter(F.col("doc_id") == 4).select(
        lf["bullet_line_frac"].alias("b"), lf["end_punct_line_frac"].alias("e")
    ).first()
    assert row.b == 1.0 and row.e == 0.0


def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [(1, "mail a@b.com or call +1 555-123-4567 from 192.168.1.1 ok"), (2, "clean text")],
        "doc_id long, text string",
    )
    c = text.pii_counts(F.col("text"))
    out = {r.doc_id: r for r in df.select(
        "doc_id", c["email"].alias("e"), c["phone"].alias("p"), c["ipv4"].alias("i"),
        text.redact_pii(F.col("text")).alias("red"),
    ).collect()}
    assert (out[1].e, out[1].p, out[1].i) == (1, 1, 1)
    assert out[1].red == "mail [PII] or call [PII] from [PII] ok"
    assert out[2].red == "clean text" and out[2].e == out[2].p == out[2].i == 0


def test_repetition_ngram_stats_query(spark):
    """Repetitive doc -> high top-2-gram fraction; varied doc -> low."""
    import tada_spark.queries as q
    import os, tempfile

    df = spark.createDataFrame(
        [(0, "spam spam spam spam spam spam"), (1, "one two three four five six")],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {r.doc_id: r for r in q.repetition_ngram_stats(spark, d).collect()}
    assert out[0].top_2gram_frac == 1.0 and out[0].distinct_2grams == 1
    assert out[1].distinct_2grams == 5 and out[1].top_2gram_frac == 0.2


def test_minhash_bucket_cap(spark):
    """max_bucket drops degenerate LSH buckets: identical boilerplate
    docs stop pairing once their bucket exceeds the cap, distinct docs
    are untouched, and the default (None) behavior is unchanged."""
    from pyspark.sql import functions as F

    from tada_spark.functions.dedup import minhash_lsh_pairs

    boiler = [(i, "exact same boilerplate text repeated again and again") for i in range(6)]
    uniq = [
        (100, "first genuinely distinct document body with several words"),
        (101, "first genuinely distinct document body with several worms"),
    ]
    df = spark.createDataFrame(boiler + uniq, ["doc_id", "text"])
    uncapped = minhash_lsh_pairs(df, num_hashes=8, bands=2)
    capped = minhash_lsh_pairs(df, num_hashes=8, bands=2, max_bucket=3)
    unc = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cap = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in unc and (100, 101) in cap  # near-dup pair survives
    assert any(a < 6 and b < 6 for a, b in unc)  # boilerplate pairs uncapped
    assert not any(a < 6 and b < 6 for a, b in cap)  # ...and capped away


def test_paragraph_dedup_first_occurrence_wins(spark):
    """CCNet-style chunk dedup: the global first occurrence (by doc,
    position) of a 20-word chunk is kept; later occurrences count as
    duplicates and vanish from the rebuilt text."""
    from tada_spark.functions.dedup import paragraph_dedup

    A = " ".join(f"a{i}" for i in range(20))
    B = " ".join(f"b{i}" for i in range(20))
    C = " ".join(f"c{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, f"{A} {B}"), (2, f"{A} {C}"), (3, "short tail")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in paragraph_dedup(docs, chunk_words=20).collect()}
    assert got[1].n_chunks == 2 and got[1].n_dup_chunks == 0
    assert got[2].n_chunks == 2 and got[2].n_dup_chunks == 1
    assert got[2].dup_frac == 0.5
    import hashlib

    assert got[2].kept_md5 == hashlib.md5(C.encode()).hexdigest()
    # the sub-chunk-width doc is its own single chunk, never dropped
    assert got[3].n_chunks == 1 and got[3].n_dup_chunks == 0
    assert got[3].kept_md5 == hashlib.md5(b"short tail").hexdigest()


def test_minhash_md5_family_matches_reference_py(spark):
    """The md5 hash family (the oracle-checkable one) is pinned against
    a pure-python replica of the same idiom on a literal doc."""
    import hashlib

    from pyspark.sql import functions as F

    from tada_spark.functions.dedup import minhash_signatures

    text = "w1 w2 w3 w4"
    shingles = ["w1 w2 w3", "w2 w3 w4"]
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = minhash_signatures(df, num_hashes=2, hash_family="md5").first()
    for seed in (0, 1):
        want = min(
            int(hashlib.md5(f"{seed}#{s}".encode()).hexdigest()[:8], 16) for s in shingles
        )
        assert row[f"h{seed}"] == want


def test_bigram_familiarity_hand_computed(spark):
    """Smoothed p(w2|w1) = (c(bigram)+1)/(c(w1)+V) against hand math:
    corpus 'a b' + 'a b' + 'a c' -> V=3, c(a)=3, c(a b)=2, c(a c)=1."""
    from tada_spark.functions.text import bigram_familiarity

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in bigram_familiarity(docs).collect()}
    # docs 1,2: p = (2+1)/(3+3) = 0.5 ; doc 3: p = (1+1)/(3+3) = 1/3
    assert got[1].familiarity == 0.5 and got[2].familiarity == 0.5
    assert got[3].familiarity == 0.333333
    assert all(got[i].n_bigrams == 1 for i in (1, 2, 3))


def test_sequence_pack_shard_local_layout(spark):
    """Contiguous packing: offsets accumulate in id order within each
    shard and reset across shards; bin = start // seq_len."""
    from tada_spark.functions.sampling import sequence_pack

    rows = [(1, "s1", 100), (2, "s1", 200), (3, "s1", 300), (4, "s2", 50)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {r.doc_id: (r.start_offset, r.bin) for r in sequence_pack(df, seq_len=256).collect()}
    assert got[1] == (0, 0)
    assert got[2] == (100, 0)
    assert got[3] == (300, 1)
    assert got[4] == (0, 0)  # new shard restarts the stream


def test_winnow_md5_family_matches_reference_py(spark):
    """md5-family winnowing pinned against a pure-python replica:
    rolling 8-gram hashes, min per 16-window, distinct."""
    import hashlib

    from tada_spark.functions.text import winnow_fingerprints_long

    text = "abcdefghijklmnopqrstuvwxyz0123456789"
    k, w = 8, 16
    hashes = [
        int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:8], 16)
        for i in range(len(text) - k + 1)
    ]
    want = sorted({min(hashes[j : j + w]) for j in range(len(hashes) - w + 1)})
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted(
        r.fp
        for r in winnow_fingerprints_long(
            df, id_col="doc_id", text_col="text", k=k, w=w, hash_family="md5"
        ).collect()
    )
    assert got == want


def test_simhash_md5_family_matches_reference_py(spark):
    """32-bit md5-family simhash pinned against a pure-python replica of
    the per-bit majority vote over distinct lowercased tokens."""
    import hashlib

    from pyspark.sql import functions as F

    from tada_spark.functions.dedup import simhash

    text = "Alpha beta GAMMA beta"
    toks = {"alpha", "beta", "gamma"}
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in sorted(toks)]
    want = 0
    for b in range(32):
        vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
        if vote > 0:
            want |= 1 << b
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = df.select(simhash(F.col("text"), num_bits=32, hash_family="md5").alias("sh")).first().sh
    assert got == want


def test_duplicate_span_stats_keep_first(spark):
    """k=3 spans: doc 1 repeats doc 0's text entirely (every span dup);
    doc 2 shares a 3-token span mid-text; doc 0 (smallest key) owns the
    canonical occurrences so its spans are never 'duplicate'."""
    rows = [
        (0, "a b c d e"),          # spans: abc bcd cde (all first)
        (1, "a b c d e"),          # identical -> 3/3 dup
        (2, "x y a b c z"),        # spans: xya yab abc bcz -> 1/4 dup
        (3, "short"),              # < k tokens -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_span_frac)
        for r in dedup.duplicate_span_stats(df, k=3).collect()
    }
    assert got[0] == (3, 0, 0.0)
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (4, 1, 0.25)
    assert 3 not in got


def test_chunk_windows_overlap_and_tail(spark):
    """size=4 stride=3 over 10 tokens: starts 0,3,6,9; tail chunk runs
    short; chunk text is the joined token slice (verified via md5)."""
    import hashlib

    toks = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    df = spark.createDataFrame([(7, toks), (8, "")], "doc_id long, text string")
    out = sorted(
        text.chunk_windows(df, size=4, stride=3).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [r.doc_id for r in out] == [7, 7, 7, 7]  # empty doc dropped
    assert [(r.chunk_idx, r.start_tok, r.n_chunk_tokens) for r in out] == [
        (0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 1),
    ]
    want = hashlib.md5("t3 t4 t5 t6".encode()).hexdigest()
    assert out[1].chunk_md5 == want


def test_key_skew_profile_top_n_and_ties(spark):
    from tada_spark.operators.skew import key_skew_profile

    rows = [(k,) for k in [1] * 5 + [2] * 3 + [3] * 3 + [4] * 1]
    df = spark.createDataFrame(rows, "k long")
    out = key_skew_profile(df, "k", top_n=3).collect()
    assert [(r.key, r.cnt) for r in out] == [(1, 5), (2, 3), (3, 3)]  # tie: key asc
    assert out[0].share == round(5 / 12, 6) or abs(out[0].share - 5 / 12) < 1e-6


def test_domain_mix_weights_boosts_low_resource(spark):
    from tada_spark.functions.sampling import domain_mix_weights

    rows = [("en",)] * 90 + [("sw",)] * 10
    df = spark.createDataFrame(rows, "lang string")
    out = {r.domain: r for r in domain_mix_weights(df, "lang").collect()}
    # sqrt smoothing: en 90->9.4868, sw 10->3.1623; weights ~0.75/0.25
    assert abs(out["en"].weight - 0.75) < 0.01 and abs(out["sw"].weight - 0.25) < 0.01
    assert out["sw"].boost > 1.0 > out["en"].boost  # low-resource up-sampled
    assert abs(out["en"].weight + out["sw"].weight - 1.0) < 1e-5


def test_incremental_dedup_admits_only_fresh_first(spark):
    """Delta doc admitted iff fp absent from corpus AND first-in-batch."""
    corpus = spark.createDataFrame([(0, "Known doc!")], "doc_id long, text string")
    delta = spark.createDataFrame(
        [
            (10, "known DOC"),    # normalizes to corpus fp -> rejected
            (11, "fresh one"),    # admitted
            (12, "fresh  one!"),  # same normalized fp as 11 -> batch dup
            (13, "another"),      # admitted
        ],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in dedup.incremental_dedup(delta, corpus).collect())
    assert got == [11, 13]


def test_domain_cap_deterministic_hash_order(spark):
    from tada_spark.functions.sampling import domain_cap, hash_bucket

    rows = [(i, "en" if i < 8 else "sw") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = domain_cap(df, "lang", "doc_id", cap=3)
    by_lang = {}
    for r in out.collect():
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    assert len(by_lang["en"]) == 3          # capped
    assert sorted(by_lang["sw"]) == [8, 9]  # under cap: all kept
    # reproducible: a second run keeps the identical set
    out2 = {r.doc_id for r in domain_cap(df, "lang", "doc_id", cap=3).collect()}
    assert {r.doc_id for r in out.collect()} == out2


def test_remove_duplicate_spans_surgical(spark):
    """k=3: doc 1 repeats doc 0 verbatim inside unique framing text —
    only the repeated run is removed, the frame survives; doc 0 (the
    canonical copy) is untouched; an exact full copy (doc 2) empties."""
    import hashlib

    rows = [
        (0, "a b c d e"),
        (1, "u v a b c d e x y"),   # interior copy of doc 0
        (2, "a b c d e"),           # exact copy -> fully removed
        (3, "tiny doc"),            # n < k -> intact
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.remove_duplicate_spans(df, k=3).collect()}

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (got[0].n_removed, got[0].cleaned_md5) == (0, md5("a b c d e"))
    # doc 1: spans abc..cde are dups; tokens a..e each fully covered by
    # dup windows EXCEPT a,b (covered by uva/vab) and d,e (cde only at
    # the tail?) — compute: dup spans are (a b c),(b c d),(c d e);
    # token 'c' (t=4) is covered only by dup windows + (v a b)? no —
    # windows covering t=4: (a b c),(b c d),(c d e) all dup -> removed.
    # tokens a(t=2): windows (u v a),(v a b),(a b c) — first two unique
    # -> kept. Net: only 'c' and 'd'? d(t=5): (b c d),(c d e),(d e x);
    # (d e x) unique -> kept. So exactly one token removed: 'c'.
    assert got[1].n_removed == 1
    assert got[1].cleaned_md5 == md5("u v a b d e x y")
    assert (got[2].n_removed, got[2].cleaned_md5) == (5, md5(""))
    assert (got[3].n_tokens, got[3].n_removed, got[3].cleaned_md5) == (2, 0, md5("tiny doc"))


def test_span_ops_property_invariants(spark):
    """Property check over randomized corpora (hypothesis): the span
    pair's global accounting invariants hold for any token stream.
    - per doc with n >= k tokens: n_spans == n - k + 1
    - corpus-wide: sum(n_dup_spans) == total_spans - distinct_fingerprints
      (keep-first means exactly one occurrence per fp is canonical)
    - removal: 0 <= n_removed <= n_tokens per doc; an all-unique corpus
      removes nothing."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    k = 3
    tok = st.sampled_from(["a", "b", "c", "d"])
    docs_strategy = st.lists(
        st.lists(tok, min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    )

    @given(texts=docs_strategy)
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def check(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        stats = {r.doc_id: r for r in dedup.duplicate_span_stats(df, k=k).collect()}
        total_spans = 0
        fps = set()
        for i, t in rows:
            toks = t.split()
            if len(toks) >= k:
                expect_spans = len(toks) - k + 1
                assert stats[i].n_spans == expect_spans, (t, stats[i])
                assert 0 <= stats[i].n_dup_spans <= expect_spans
                total_spans += expect_spans
                for p in range(expect_spans):
                    fps.add(" ".join(toks[p : p + k]))
            else:
                assert i not in stats
        assert sum(r.n_dup_spans for r in stats.values()) == total_spans - len(fps)

        removed = {r.doc_id: r for r in dedup.remove_duplicate_spans(df, k=k).collect()}
        for i, t in rows:
            r = removed[i]
            n = len(t.split())
            assert r.n_tokens == n
            assert 0 <= r.n_removed <= r.n_tokens

    check()


def test_remove_duplicate_spans_unique_corpus_removes_nothing(spark):
    import hashlib

    rows = [(0, "p q r s"), (1, "w x y z"), (2, "m n o")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.remove_duplicate_spans(df, k=3).collect()}
    for i, t in rows:
        assert out[i].n_removed == 0
        assert out[i].cleaned_md5 == hashlib.md5(t.encode()).hexdigest()


def _png_chunks(ihdr_fields, idat_raw):
    """Assemble a PNG from raw (pre-compression) scanline bytes."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", *ihdr_fields))
        + chunk(b"IDAT", zlib.compress(idat_raw))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_filter0_vs_filter2_roundtrip():
    """The same image encoded with filter None and filter Up must decode
    identically, and the luma must equal the hand-computed pixel mean."""
    from tada_spark.functions.multimodal import encode_png_gray8, png_image_decoder

    w, h = 5, 4
    fn = lambda x, y: (37 * y + 11 * x) % 256
    a = png_image_decoder(encode_png_gray8(w, h, fn, filter_type=0))
    b = png_image_decoder(encode_png_gray8(w, h, fn, filter_type=2))
    assert a == b
    total = sum(fn(x, y) for y in range(h) for x in range(w))
    import math

    want = math.floor(total / (w * h * 255) * 1e6 + 0.5) / 1e6
    assert a == (w, h, want)


def test_png_decoder_sub_average_paeth_filters():
    """Hand-filter three grayscale rows with Sub(1) / Average(3) /
    Paeth(4) per the PNG spec and check the decoder reconstructs the
    intended pixels (asserted via the exact mean luma)."""
    import math

    from tada_spark.functions.multimodal import png_image_decoder

    target = [
        [10, 20, 30, 255],
        [5, 130, 200, 0],
        [77, 78, 200, 13],
    ]
    w, h = 4, 3

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    # row 0: Sub — filt = v - left
    raw.append(1)
    raw += bytes((target[0][x] - (target[0][x - 1] if x else 0)) & 255 for x in range(w))
    # row 1: Average — filt = v - (left + up)//2
    raw.append(3)
    raw += bytes(
        (target[1][x] - ((target[1][x - 1] if x else 0) + target[0][x]) // 2) & 255
        for x in range(w)
    )
    # row 2: Paeth — filt = v - paeth(left, up, up-left)
    raw.append(4)
    raw += bytes(
        (
            target[2][x]
            - paeth(target[2][x - 1] if x else 0, target[1][x], target[1][x - 1] if x else 0)
        )
        & 255
        for x in range(w)
    )
    png = _png_chunks((w, h, 8, 0, 0, 0, 0), bytes(raw))
    got = png_image_decoder(png)
    total = sum(sum(r) for r in target)
    want = math.floor(total / (w * h * 255) * 1e6 + 0.5) / 1e6
    assert got == (w, h, want)


def test_png_decoder_rgb_and_unsupported():
    """RGB uses the ITU-R 601 integer weights; palette / 16-bit /
    truncated payloads raise (the image_features drop policy)."""
    import math

    import pytest as _pytest

    from tada_spark.functions.multimodal import png_image_decoder

    # 2x1 RGB, filter 0: red-ish and gray pixels
    pixels = [(200, 10, 40), (128, 128, 128)]
    raw = bytes([0]) + b"".join(bytes(p) for p in pixels)
    png = _png_chunks((2, 1, 8, 2, 0, 0, 0), raw)
    w, h, luma = png_image_decoder(png)
    total_milli = sum(299 * r + 587 * g + 114 * b for r, g, b in pixels)
    want = math.floor(total_milli / (2 * 1 * 1000 * 255) * 1e6 + 0.5) / 1e6
    assert (w, h, luma) == (2, 1, want)

    with _pytest.raises(ValueError):  # palette color type
        png_image_decoder(_png_chunks((1, 1, 8, 3, 0, 0, 0), bytes([0, 0])))
    with _pytest.raises(ValueError):  # 16-bit depth
        png_image_decoder(_png_chunks((1, 1, 16, 0, 0, 0, 0), bytes([0, 0, 0])))
    with _pytest.raises(Exception):  # truncated IDAT
        png_image_decoder(_png_chunks((4, 4, 8, 0, 0, 0, 0), bytes([0, 1, 2])))
    with _pytest.raises(ValueError):  # not a PNG at all
        png_image_decoder(b"RIFF not a png")


# ---------------------------------------------------------------------------
# retrieval tier: inverted index, BM25, SQ8 ANN
# ---------------------------------------------------------------------------


def test_inverted_index_counts_and_postings(spark):
    df = spark.createDataFrame(
        [(3, "b a a"), (1, "a b"), (2, "a"), (4, "   "), (5, None)],
        "doc_id long, text string",
    )
    idx = {r.term: r for r in text.inverted_index(df).collect()}
    assert set(idx) == {"a", "b"}
    assert idx["a"].df == 3 and idx["a"].total_tf == 4
    assert idx["b"].df == 2 and idx["b"].total_tf == 2
    assert idx["a"].top_postings == "1,2,3"  # sorted doc ids, blank/null docs absent
    assert idx["b"].top_postings == "1,3"


def test_inverted_index_posting_cap(spark):
    df = spark.createDataFrame([(i, "x") for i in range(30)], "doc_id long, text string")
    row = text.inverted_index(df, max_postings=16).first()
    assert row.df == 30  # df counts ALL docs ...
    assert row.top_postings == ",".join(str(i) for i in range(16))  # ... preview is capped


def test_bm25_rank_matches_python_reference(spark):
    corpus = [(1, "a b c a"), (2, "a a a a"), (3, "b b"), (4, "c"), (5, "d d d")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {r.doc_id: (r.score_e6, r.n_terms_hit) for r in
           text.bm25_rank(df, ("a", "b"), top_k=10).collect()}

    # brute-force replica of the documented formula (k1=1.2, b=0.75,
    # det_ln log-form RSJ idf, e6 floor-quantized per-term contributions)
    import math as _m

    from tada_spark.plans.semantics import py_det_ln
    toks = {d: t.split() for d, t in corpus}
    n_docs = len(corpus)
    total = sum(len(v) for v in toks.values())
    avgdl = total / n_docs
    want = {}
    for term in ("a", "b"):
        dft = sum(1 for v in toks.values() if term in v)
        for d, v in toks.items():
            tf = v.count(term)
            if not tf:
                continue
            idf = py_det_ln(((n_docs - dft) + 0.5) / (dft + 0.5))
            tf_part = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (len(v) / avgdl)))
            s, n = want.get(d, (0, 0))
            want[d] = (s + _m.floor(idf * tf_part * 1e6 + 0.5), n + 1)
    assert out == want


def test_sq8_codes_bounds_and_constant_dim(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 5.0, 7.0]), (2, [10.0, 5.0, 3.0]), (3, [5.0, 5.0, 11.0])],
        "vec_id long, embedding array<float>",
    )
    stats = similarity.sq8_dim_stats(df)
    codes = {r.vec_id: r.codes for r in similarity.sq8_codes(df, stats).collect()}
    # dim0 spans [0,10]: 0→0, 10→255, 5→128 (floor(127.5+0.5))
    assert [codes[1][0], codes[2][0], codes[3][0]] == [0, 255, 128]
    # dim1 constant ⇒ all 0
    assert [codes[d][1] for d in (1, 2, 3)] == [0, 0, 0]
    assert all(0 <= c <= 255 for cs in codes.values() for c in cs)


def test_sq8_topk_agrees_with_exact_on_separated_clusters(spark):
    import numpy as _np

    rng = _np.random.default_rng(11)
    base = rng.normal(size=(4, 16))
    rows = []
    for i in range(24):
        v = base[i % 4] + rng.normal(scale=0.05, size=16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.sq8_topk(df, n_probes=4, k=3, shortlist=8).collect()
    assert {r.query_id for r in out} == {0, 1, 2, 3}
    for r in out:
        # same cluster (ids ≡ query mod 4) and never self
        assert r.neighbor_id % 4 == r.query_id % 4
        assert r.neighbor_id != r.query_id
        assert r.cos > 0.9
    # ranks are 1..k per query, ordered by the exact re-rank cosine
    for qid in range(4):
        rs = sorted([r for r in out if r.query_id == qid], key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3]
        assert rs[0].cos >= rs[1].cos >= rs[2].cos


# ---------------------------------------------------------------------------
# curation/ops tier: source overlap, expectations, temperature resample
# ---------------------------------------------------------------------------


def test_source_overlap_disjoint_and_identical(spark):
    df = spark.createDataFrame(
        [
            (1, "abcdefghijklmnopqr", "s1"),   # shares all shingles with doc 2
            (2, "abcdefghijklmnopqr", "s2"),
            (3, "zzzzzzzzzzzzzzzzzzzz", "s3"),  # disjoint from everyone
            (4, None, "s4"),
            (5, "  ", "s5"),
        ],
        "doc_id long, text string, source string",
    )
    out = {(r.source_a, r.source_b): r for r in
           dedup.source_overlap(df, shingle_chars=16).collect()}
    assert set(out) == {("s1", "s2")}  # only the identical pair overlaps
    r = out[("s1", "s2")]
    assert r.jaccard == 1.0 and r.n_shared == 3  # 18 chars → 3 distinct 16-grams


def test_validate_expectations_single_pass_report(spark):
    from tada_spark.operators.validate import (
        expect_in_set, expect_not_null, expect_range, expect_regex, expect_unique, validate,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 99.0, "b"), (2, -1.0, None), (None, 5.0, "zz")],
        "k long, v double, s string",
    )
    rows = {(r.rule, r.column_name): r for r in validate(df, [
        expect_not_null("k"),
        expect_unique("k"),
        expect_range("v", 0.0, 50.0),
        expect_in_set("s", ("a", "b")),
        expect_regex("s", "^[ab]$"),
    ]).collect()}
    assert rows[("not_null", "k")].n_violations == 1          # the None key
    assert rows[("not_null", "k")].n_checked == 4             # all rows
    assert rows[("unique", "k")].n_violations == 1            # one dup of k=2
    assert rows[("unique", "k")].n_checked == 3               # non-null keys
    assert rows[("range", "v")].n_violations == 2             # 99.0 and -1.0
    assert rows[("in_set", "s")].n_violations == 1            # 'zz'; null SKIPPED
    assert rows[("in_set", "s")].n_checked == 3               # non-null only
    assert rows[("regex", "s")].n_violations == 1
    assert not rows[("range", "v")].ok and rows[("not_null", "k")].ok is False
    assert len(rows) == 5


def test_temperature_resample_quotas_and_determinism(spark):
    from tada_spark.functions.sampling import temperature_resample

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_resample(df, "lang", "doc_id", 50)
    got = out.groupBy("lang").count().collect()
    by_lang = {r.lang: r["count"] for r in got}
    # integer quota replica: q = floor(sqrt(n)*1e6+0.5); quota = floor(q*T/q_total)
    import math as _m
    qb, qs = _m.floor(_m.sqrt(90) * 1e6 + 0.5), _m.floor(_m.sqrt(10) * 1e6 + 0.5)
    qt = qb + qs
    # a domain with fewer rows than its quota yields what it has
    assert by_lang == {"big": min(90, _m.floor(qb * 50 / qt)),
                       "small": min(10, _m.floor(qs * 50 / qt))}
    # smoothing up-weights the small domain vs its raw 10% share
    assert by_lang["small"] / 50 > 0.10
    # content-addressed: same input → identical kept set across runs
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in temperature_resample(df, "lang", "doc_id", 50).collect())
    assert ids1 == ids2


# ---------------------------------------------------------------------------
# ops tier: snapshot diff, threshold sweep, BPE merges
# ---------------------------------------------------------------------------


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone"), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (5, "brand new"), (4, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.status for r in dedup.snapshot_diff(old, new).collect()}
    # 1 unchanged (dropped), 4 null→null unchanged (null-safe compare)
    assert out == {2: "changed", 3: "removed", 5: "added"}


def test_snapshot_diff_fingerprint_normalizes(spark):
    # case/punctuation churn is NOT a content change (canonical fp)
    old = spark.createDataFrame([(1, "Hello, World!")], "doc_id long, text string")
    new = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    assert dedup.snapshot_diff(old, new).count() == 0


def test_dedup_threshold_sweep_monotone(spark):
    rows = [
        (1, "aaaa bbbb cccc dddd", "en"),
        (2, "aaaa bbbb cccc dddd", "en"),     # exact dup of 1
        (3, "aaaa bbbb cccc xxxx", "en"),     # near dup
        (4, "totally different words", "en"),
        (5, "aaaa bbbb cccc dddd", "de"),     # other block: never pairs with 1/2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.threshold: (r.n_pairs, r.n_docs_removed) for r in
           dedup.dedup_threshold_sweep(df, (0.3, 0.9), block_cols=["lang"]).collect()}
    assert out[0.9] == (1, 1)                  # only the exact dup fires at 0.9
    assert out[0.3][0] >= out[0.9][0]          # pair count monotone in τ
    assert out[0.3][1] >= out[0.9][1]
    # blocking: doc 5 never pairs across langs, so it is never "removed"
    assert out[0.3][1] <= 2


def test_bpe_merge_candidates_weighted_counts(spark):
    df = spark.createDataFrame(
        [("ab ab cd",), ("ab x",), ("",)], "text string"
    )  # 'ab' appears 3×, 'cd' 1×, 'x' has no pair
    out = {r.pair: r.n_occ for r in text.bpe_merge_candidates(df, top_k=10).collect()}
    assert out == {"ab": 3, "cd": 1}


def test_bpe_merge_candidates_overlapping_pairs(spark):
    df = spark.createDataFrame([("aaa",)], "text string")
    out = {r.pair: r.n_occ for r in text.bpe_merge_candidates(df).collect()}
    assert out == {"aa": 2}  # positions 1-2 and 2-3 both count


def test_validate_empty_rules_returns_empty_report(spark):
    from tada_spark.operators.validate import validate

    df = spark.createDataFrame([(1,)], "k long")
    out = validate(df, [])
    assert out.count() == 0
    assert [f.name for f in out.schema] == [
        "rule", "column_name", "n_violations", "n_checked", "ok",
    ]


def test_sq8_topk_drops_null_and_empty_vectors(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, None), (4, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.sq8_topk(df, n_probes=2, k=2, shortlist=3).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert 3 not in ids and 4 not in ids  # null/empty rows never appear
    assert all(r.q_score is not None and r.cos is not None for r in out)


# ---------------------------------------------------------------------------
# event analytics: funnel, cohort retention, dense resample
# ---------------------------------------------------------------------------


def _evdf(spark, rows):
    df = spark.createDataFrame(rows, "user_id long, event_type string, epoch long")
    return df.withColumn("ts", F.timestamp_seconds(F.col("epoch"))).withColumn(
        "value", F.col("epoch").cast("double")
    )


def test_funnel_requires_strict_order(spark):
    from tada_spark.queries import funnel_conversion_events  # noqa: F401 (shape only)
    # exercise the logic inline (the catalog fn reads parquet): user 1
    # completes the funnel in order; user 2 clicks BEFORE viewing (no
    # step-2 credit); user 3 views only
    rows = [
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        (2, "click", 10), (2, "view", 20), (2, "purchase", 30),
        (3, "view", 10),
    ]
    ev = _evdf(spark, rows)
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    t2 = (ev.filter(F.col("event_type") == "click").join(t1, "user_id")
          .filter(F.col("ts") > F.col("t1")).groupBy("user_id").agg(F.min("ts").alias("t2")))
    t3 = (ev.filter(F.col("event_type") == "purchase").join(t2, "user_id")
          .filter(F.col("ts") > F.col("t2")).groupBy("user_id").agg(F.min("ts").alias("t3")))
    assert t1.count() == 3 and t2.count() == 1 and t3.count() == 1
    # user 2's purchase does NOT count: their click never followed a view
    assert t3.first().user_id == 1


def test_dense_resample_fills_gaps_and_ffills(spark, tmp_path):
    from tada_spark.queries import dense_resample_events

    # build a tiny parquet events table with a 2-hour gap
    rows = [(1, "view", 0), (1, "view", 3600 * 3)]
    ev = _evdf(spark, rows).select(
        F.col("epoch").alias("event_id"), "ts", "user_id", "event_type",
        "value", F.lit(None).cast("string").alias("props"),
    )
    sf = str(tmp_path)
    # match the driver testdata's encoding (µs, not Spark's INT96
    # default, which pyarrow reports as ns and routes to the ns shim)
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        ev.write.parquet(f"{sf}/events.parquet")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    out = {r.bucket.hour: (r.n, r.mean_value_filled)
           for r in dense_resample_events(spark, sf).collect()}
    assert len(out) == 4                       # hours 0..3 all present
    assert out[1][0] == 0 and out[2][0] == 0   # gap hours exist with n=0
    assert out[1][1] == out[0][1]              # ... and carry hour 0's mean
    assert out[3][0] == 1


def test_cdc_apply_changes_semantics(spark):
    from tada_spark.operators.cdc import apply_changes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 1, "U"),     # update
            (3, "c", 1, "D"),      # delete
            (4, "d", 1, "I"),      # insert
            (5, "e1", 1, "U"),     # two changes to one NEW key:
            (5, None, 2, "D"),     # latest (seq 2) wins -> never appears
            (6, "f-old", 1, "I"),
            (6, "f-new", 2, "U"),  # latest wins -> f-new
        ],
        "k long, v string, seq int, op string",
    )
    out = {r.k: r.v for r in apply_changes(base, changes, "k").collect()}
    assert out == {1: "a", 2: "b2", 4: "d", 6: "f-new"}


def test_cdc_equal_seq_update_beats_delete(spark):
    from tada_spark.operators.cdc import apply_changes

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    changes = spark.createDataFrame(
        [(1, "a2", 1, "U"), (1, None, 1, "D")], "k long, v string, seq int, op string"
    )
    out = {r.k: r.v for r in apply_changes(base, changes, "k").collect()}
    assert out == {1: "a2"}  # pinned degenerate tie-break: 'U' > 'D'


def test_scd2_history_versions(spark):
    from tada_spark.operators.cdc import scd2_history

    changes = spark.createDataFrame(
        [
            (1, "v1", 1, "I"), (1, "v2", 2, "U"),              # update chain, open
            (2, "w1", 1, "I"), (2, None, 2, "D"),              # closed by delete
            (3, "x1", 1, "I"),                                 # single open version
        ],
        "k long, v string, seq int, op string",
    )
    out = {(r.k, r.valid_from): (r.v, r.valid_to, r.is_current)
           for r in scd2_history(changes, "k").collect()}
    assert out == {
        (1, 1): ("v1", 2, False),
        (1, 2): ("v2", None, True),
        (2, 1): ("w1", 2, False),   # closed by the delete, NOT current
        (3, 1): ("x1", None, True),
    }


def test_zorder_key_interleaves_bits(spark):
    from tada_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(0b1010, 0b0110)], "a long, b long")
    z = df.select(zorder_key(F.col("a"), F.col("b")).alias("z")).first().z
    # a bits at even positions, b bits at odd: a=1010 b=0110 -> z=01101100
    assert z == 0b01101100
    # locality: close (a,b) points get close z values
    df2 = spark.createDataFrame([(a, b) for a in range(8) for b in range(8)], "a long, b long")
    rows = df2.select("a", "b", zorder_key(F.col("a"), F.col("b"), bits=3).alias("z")).collect()
    zs = {(r.a, r.b): r.z for r in rows}
    assert len(set(zs.values())) == 64  # bijective on the grid
    assert zs[(0, 0)] == 0 and zs[(7, 7)] == 63


def test_fuzzy_join_blocked_edit_distance(spark):
    from tada_spark.operators.linkage import fuzzy_join, prefix_block

    left = spark.createDataFrame(
        [(1, "000000123"), (2, "000000999"), (3, "111111111")], "lid long, lnum string"
    )
    right = spark.createDataFrame(
        [(10, "000000124"), (11, "000000123"), (12, "999999123")], "rid long, rnum string"
    )
    out = {(r.lid, r.rid): r.dist for r in
           fuzzy_join(left, right, "lnum", "rnum", prefix_block(7), max_dist=1).collect()}
    # 123~124 (1 edit) and 123~123 (0 edits) match within the block;
    # 999999123 shares no 7-prefix with anything -> blocked out even
    # though its distance to 111111111 is finite
    assert out == {(1, 10): 1, (1, 11): 0}


def test_fuzzy_join_self_linkage(spark):
    """The classic linkage use — one registry against itself (shared
    column names on both sides) — must resolve unambiguously."""
    from tada_spark.operators.linkage import fuzzy_join, prefix_block

    df = spark.createDataFrame(
        [(1, "000000123"), (2, "000000124"), (3, "000000999")], "id long, num string"
    )
    out = fuzzy_join(df, df, "num", "num", prefix_block(7), max_dist=1)
    # every row matches itself (dist 0) plus the 123~124 pair both ways
    assert out.count() == 3 + 2
    assert out.filter(F.col("dist") == 1).count() == 2


def _write_events_parquet(spark, tmp_path, rows):
    """rows: (event_id, epoch_s, user_id, event_type, value); writes the
    events table in the driver testdata's µs encoding, returns sf dir."""
    df = spark.createDataFrame(
        rows, "event_id long, epoch long, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("epoch")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit(None).cast("string").alias("props"),
    )
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    return str(tmp_path)


def test_robust_outliers_flags_injected_tail(spark, tmp_path):
    """Exercises the PRODUCTION robust_outliers_events path, including
    the MAD=0 meanAD fallback and the zero-spread drop."""
    from tada_spark.queries import robust_outliers_events

    rows = (
        # normal-spread group: only the injected 1000 flags
        [(i, i, 1, "a", float(v)) for i, v in enumerate([1, 2, 3, 2, 1, 3, 2, 1000])]
        # MAD=0 group (most values AT the median): meanAD fallback flags 500
        + [(10 + i, i, 1, "b", float(v)) for i, v in enumerate([5, 5, 5, 5, 5, 500])]
        # zero-spread group: scale 0 -> emits nothing, no div-by-zero
        + [(20 + i, i, 1, "c", 7.0) for i in range(4)]
    )
    sf = _write_events_parquet(spark, tmp_path, rows)
    out = {r.event_id: r.event_type for r in robust_outliers_events(spark, sf).collect()}
    assert out == {7: "a", 15: "b"}


def test_assoc_rules_lift_and_confidence(spark, tmp_path):
    """Exercises the PRODUCTION assoc_rules_events path: 4 user-day
    baskets — A+B co-occur in 2, A alone in 1, B alone in 1."""
    import math as _m

    from tada_spark.queries import assoc_rules_events

    day = 86400
    rows = [
        (1, 0 * day, 1, "A", 0.0), (2, 0 * day + 60, 1, "B", 0.0),
        (3, 0 * day, 2, "A", 0.0), (4, 0 * day + 60, 2, "B", 0.0),
        (5, 0 * day, 3, "A", 0.0),
        (6, 0 * day, 4, "B", 0.0),
        # duplicate event in an existing basket: DISTINCT folds it
        (7, 0 * day + 120, 1, "A", 0.0),
    ]
    sf = _write_events_parquet(spark, tmp_path, rows)
    out = {(r.antecedent, r.consequent): r for r in assoc_rules_events(spark, sf).collect()}
    assert set(out) == {("A", "B"), ("B", "A")}
    r = out[("A", "B")]
    assert r.n_pair == 2
    assert r.support == _m.floor(2 / 4 * 1e6 + 0.5) / 1e6
    assert r.confidence == _m.floor(2 / 3 * 1e6 + 0.5) / 1e6
    assert r.lift == _m.floor((2 * 4) / (3 * 3) * 1e6 + 0.5) / 1e6  # < 1: mild negative assoc
    assert out[("B", "A")].confidence == r.confidence  # symmetric counts here


def test_write_zordered_narrows_file_spans(spark, tmp_path):
    """The data-skipping proof: after a Z-ordered write, each file's
    footer min/max span of BOTH dimensions is far narrower than the
    global range — so filters on either column prune files."""
    import glob

    import pyarrow.parquet as pq

    from tada_spark.operators.layout import write_zordered

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    out = str(tmp_path / "zsorted")
    write_zordered(df, out, F.col("a"), F.col("b"), n_files=16, bits=6)

    spans_a, spans_b = [], []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins = {"a": 1 << 30, "b": 1 << 30}
        maxs = {"a": -1, "b": -1}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in mins and col.statistics is not None:
                    mins[name] = min(mins[name], col.statistics.min)
                    maxs[name] = max(maxs[name], col.statistics.max)
        # stats must actually have been seen — sentinel spans would
        # otherwise make the narrowness assertions vacuously true
        assert maxs["a"] >= mins["a"] >= 0 and maxs["b"] >= mins["b"] >= 0
        spans_a.append(maxs["a"] - mins["a"])
        spans_b.append(maxs["b"] - mins["b"])
    # global span is 63 on both dims; z-ordered files must average far
    # narrower on BOTH (a 1-D sort would narrow one dim and leave the
    # other at full width)
    assert len(spans_a) >= 8
    assert sum(spans_a) / len(spans_a) < 40
    assert sum(spans_b) / len(spans_b) < 40
    # round-trip intact
    assert spark.read.parquet(out).count() == n


def test_compact_reduces_file_count(spark, tmp_path):
    from tada_spark.operators.layout import compact

    src = str(tmp_path / "many")
    dst = str(tmp_path / "few")
    spark.range(1000).repartition(20).write.parquet(src)
    report = compact(spark, src, dst, target_files=2)
    assert report["files_before"] >= 20
    assert report["files_after"] <= 2
    assert spark.read.parquet(dst).count() == 1000
    # sorted variant keeps data intact and files skippable on the key
    dst2 = str(tmp_path / "sorted")
    report2 = compact(spark, src, dst2, target_files=4, sort_by="id")
    assert report2["files_after"] <= 4
    assert spark.read.parquet(dst2).count() == 1000


def test_compact_in_place_guard_catches_path_spellings(spark, tmp_path):
    """The out-of-place guard must survive equivalent SPELLINGS of the
    same directory — a plain string compare would let file:// URIs,
    relative paths, trailing /. or symlinks through, and
    mode('overwrite') would then delete the source mid-scan."""
    import os

    import pytest

    from tada_spark.operators.layout import compact

    src = str(tmp_path / "t")
    spark.range(10).coalesce(1).write.parquet(src)
    for alias in (
        src,
        src + "/",
        "file://" + src,
        src + "/.",
        os.path.relpath(src),
    ):
        with pytest.raises(ValueError, match="out-of-place"):
            compact(spark, src, alias, target_files=1)
    link = str(tmp_path / "ln")
    os.symlink(src, link)
    with pytest.raises(ValueError, match="out-of-place"):
        compact(spark, src, link, target_files=1)
    # the data survived every refused call
    assert spark.read.parquet(src).count() == 10


def test_jsonl_golden_dir_is_session_scoped(spark):
    """Two live sessions at the same sf must not share the round-trip
    dir (race class fixed in r6): the path carries the applicationId."""
    import os
    import tempfile

    from tada_spark.queries import jsonl_pipeline_golden

    out = jsonl_pipeline_golden(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    app = spark.sparkContext.applicationId
    expect = os.path.join(tempfile.gettempdir(), f"tada_jsonl_golden_sf0.001_{app}")
    assert os.path.isdir(expect)


def test_near_dup_triangles_closes_wedges_only(spark, tmp_path):
    """Production-path triangle enumeration on a constructed graph:
    docs 0-5-10 are mutual near-dups (one triangle); 15 forms a genuine
    WEDGE (pairs with 0 and 5 — which are identical — but any third
    pairing closes instantly, so the uncloseable wedge comes from 25:
    it pairs ONLY with 15, never with 0/5/10); 20 is isolated."""
    from tada_spark.functions import dedup as _dedup
    from tada_spark.queries import near_dup_triangles

    base = "aaaa bbbb cccc dddd eeee ffff gggg hhhh"
    mid = "cccc dddd eeee ffff gggg hhhh qqqq rrrr"   # 6 of base's 8 tokens
    far = "eeee ffff gggg hhhh qqqq rrrr wwww zzzz"   # 6 of mid's, only 4 of base's
    rows = [
        (0, base, "en", "s", 1),
        (5, base, "en", "s", 1),
        (10, base + " tail", "en", "s", 1),
        (15, mid, "en", "s", 1),
        (25, far, "en", "s", 1),
        (20, "totally different words everywhere here now", "en", "s", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.write.parquet(f"{tmp_path}/documents.parquet")

    # pin the fixture's pair structure FIRST so the wedge claim is real:
    # edges (0,15) and (15,25) exist, (0,25) does not -> 0-15-25 is an
    # uncloseable wedge (likewise 5-15-25 since 5 duplicates 0)
    for path in SIZE_PATHS:
        with size_path(spark, path):
            pairs = {(r.id_a, r.id_b) for r in _dedup.jaccard_pairs(
                df, block_cols=["lang"], ngram=4, threshold=0.35).collect()}
            tri = sorted((r.a, r.b, r.c) for r in near_dup_triangles(spark, str(tmp_path)).collect())
        assert (0, 15) in pairs and (15, 25) in pairs, path
        assert all((d, 25) not in pairs for d in (0, 5, 10)), path
        assert (0, 5, 10) in tri, path
        assert (0, 5, 15) in tri, path         # 15's real triangle with the twins
        assert all(20 not in t and 25 not in t for t in tri), path  # wedges never close
