"""Round-11 hygiene pins (r10 VERDICT asks #5/#6 + ADVICE items):

* minhash blank-doc convention at shingle_words=1 (r10 ADVICE #3):
  blank/whitespace docs produce NO signature row, for every
  shingle_words — the r10 single-scan rewrite made this uniform.
* plan_audit _same_expr (r10 ADVICE #4): complete renders compare by
  full expression equality (a long shared prefix between two DIFFERENT
  expressions no longer false-positives); truncated renders keep the
  prefix fallback.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))


def test_minhash_blank_doc_has_no_signature_at_shingle_words_1(spark):
    from tada_spark.functions.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "hello world")],
        "doc_id long, text string",
    )
    for w in (1, 2, 3):
        sig = minhash_signatures(docs, shingle_words=w, num_hashes=4)
        ids = sorted(r["doc_id"] for r in sig.collect())
        assert ids == [4], f"shingle_words={w}: blank docs must drop out, got {ids}"


def test_same_expr_full_equality_when_complete():
    from plan_audit import dup_expensive_exprs

    # two COMPLETE (balanced) renders sharing a >60-char prefix but
    # differing at the tail (same function over columns whose names
    # differ only after char 60) — must NOT flag
    name = "text_column_with_a_really_long_shared_name_prefix_padding_padding_"
    ea = f"md5(cast({name}aa#1 as binary))"
    eb = f"md5(cast({name}bb#2 as binary))"
    assert ea[:60] == eb[:60]  # the r10 false-positive precondition
    plan = f"""
+- Project [{ea} AS fp#6]
   +- Filter isnotnull({eb})
      +- FileScan parquet [a#1,b#2] DataFilters: [isnotnull({eb})]
"""
    assert dup_expensive_exprs(plan) == []

    # identical complete renders still flag
    dup_plan = f"""
+- Project [{ea} AS fp#6]
   +- Filter isnotnull({ea})
      +- FileScan parquet [a#1] DataFilters: [isnotnull({ea})]
"""
    assert "md5(" in dup_expensive_exprs(dup_plan)


def test_same_expr_truncated_falls_back_to_prefix():
    from plan_audit import dup_expensive_exprs

    # the filter side's render is cut by Spark's "..." — prefix match
    # must still catch the duplicate
    expr = "md5(cast(trim(regexp_replace(lower(text#1), [^a-z0-9]+,  , 1), None) as binary))"
    plan = f"""
+- Project [{expr} AS fp#6]
   +- FileScan parquet [text#1] DataFilters: [isnotnull({expr[:70]}...
"""
    assert "md5(" in dup_expensive_exprs(plan)


# ---------------------------------------------------------------------------
# round-11 web-ingest operators: strip_markup / density filter / URL canon
# ---------------------------------------------------------------------------


def test_strip_markup_edges(spark):
    from tada_spark.functions.text import strip_boilerplate, strip_markup

    rows = spark.createDataFrame(
        [
            (1, None),
            (2, "<p>double escape &amp;lt; stays escaped once more words here</p>"),
            (3, "unclosed <b tag degrades to whitespace and words keep flowing fine"),
            (4, "first line words here are five<br/>second line also has five words"),
            (5, "<div>short</div><div>nav</div>"),
        ],
        "id long, t string",
    )
    out = {
        r["id"]: (r["clean"], r["kept"])
        for r in rows.select(
            "id",
            strip_markup(F.col("t")).alias("clean"),
            strip_boilerplate(F.col("t")).alias("kept"),
        ).collect()
    }
    assert out[1] == (None, None)
    # &amp;lt; decodes ONCE (&amp; last) → '&lt;', never '<'
    assert out[2][0] == 'double escape &lt; stays escaped once more words here'
    # malformed markup degrades to whitespace, never an exception;
    # '<b tag degrades to whitespace and words keep flowing fine' is an
    # unclosed tag — everything from '<' on is consumed as tag-ish only
    # up to a '>' (none), so the regex leaves it; pin the actual shape
    assert "unclosed" in out[3][0]
    assert out[4][0] == "first line words here are five\nsecond line also has five words"
    assert out[4][1] == out[4][0]  # both lines pass the 5-word filter
    assert out[5][1] == ""  # all-boilerplate page → empty string, not NULL


def test_canonical_url_rules(spark):
    from tada_spark.functions.text import canonical_url, url_host

    cases = [
        # (raw, canon, host)
        ("HTTP://WWW.Ex.COM:80/a/?utm_source=x&b=2&a=1#f", "http://ex.com/a?a=1&b=2", "ex.com"),
        ("https://ex.com:80/a", "https://ex.com:80/a", "ex.com"),  # :80 NOT default for https
        ("http://ex.com:443/a", "http://ex.com:443/a", "ex.com"),  # :443 NOT default for http
        ("https://ex.com:443/a", "https://ex.com/a", "ex.com"),
        ("http://ex.com/p?fbclid=only", "http://ex.com/p", "ex.com"),  # tracking-only → no '?'
        ("http://ex.com/p?refresh=1&ref=x", "http://ex.com/p?refresh=1", "ex.com"),  # prefix ≠ match
        ("http://ex.com///", "http://ex.com", "ex.com"),
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)], "i long, url string")
    got = {
        r["i"]: (r["c"], r["h"])
        for r in df.select(
            "i", canonical_url(F.col("url")).alias("c"), url_host(F.col("url")).alias("h")
        ).collect()
    }
    for i, (_raw, canon, host) in enumerate(cases):
        assert got[i] == (canon, host), f"case {i}: {got[i]} != {(canon, host)}"


def test_url_dedup_null_guard_and_counts(spark):
    from tada_spark.functions.dedup import url_dedup

    df = spark.createDataFrame(
        [
            (1, "http://a.com/x?utm_source=s"),
            (2, "HTTP://A.COM/x"),
            (3, None),
            (4, "http://b.com/y"),
        ],
        "doc_id long, url string",
    )
    rows = {r["canon_url"]: r for r in url_dedup(df).collect()}
    # r12 (ADVICE): the NULL-url doc survives as a singleton group
    # instead of silently vanishing from the keep-list
    assert set(rows) == {"http://a.com/x", "http://b.com/y", "urn:missing:3"}
    a = rows["http://a.com/x"]
    assert (a["keep_id"], a["n_occ"], a["n_dropped"]) == (1, 2, 1)
    m = rows["urn:missing:3"]
    assert (m["keep_id"], m["n_occ"], m["n_dropped"]) == (3, 1, 0)


# ---------------------------------------------------------------------------
# unigram-LM tokenizer: property test vs a pure-Python Viterbi reference
# ---------------------------------------------------------------------------


def _ref_viterbi(word: str, lp: dict[str, int], L: int = 4, missing: int = -20_000_000):
    """Independent reference: identical spec (max score; ties prefer
    the longer final piece), written over plain dicts/loops."""
    n = len(word)
    dp: list[int] = [0] + [0] * n
    ptr: list[int] = [0] * (n + 1)
    for i in range(1, n + 1):
        best = None
        for k in range(min(L, i), 0, -1):  # larger k first wins ties
            s = dp[i - k] + lp.get(word[i - k : i], missing)
            if best is None or s > best[0]:
                best = (s, k)
        dp[i] = best[0]
        ptr[i] = i - best[1]
    pieces: list[str] = []
    cur = n
    while cur > 0:
        pieces.append(word[ptr[cur] : cur])
        cur = ptr[cur]
    pieces.reverse()
    return "|".join(pieces), len(pieces), dp[n]


def test_unigram_viterbi_matches_python_reference(spark):
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tada_spark.functions.text import unigram_viterbi_segment

    counts = {c: 50 for c in "abcdst"}
    # engineered tie: lp('ab') == lp('a') + lp('b') would need exact
    # integers — instead plant 'ab' well above and 'ta' exactly equal
    # to two chars via direct lp dict (bypassing counts)
    total = sum(counts.values())
    lp = {p: math.floor(math.log(c / total) * 1e6 + 0.5) for p, c in counts.items()}
    lp["ab"] = -2_000_000
    lp["abc"] = -2_500_000
    lp["st"] = lp["s"] + lp["t"]  # exact tie vs s|t → longer piece must win
    lp["dast"] = -3_000_000

    @given(st.lists(st.text(alphabet="abcdst", min_size=1, max_size=12), min_size=1, max_size=12, unique=True))
    @settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    def check(words):
        df = spark.createDataFrame([(w,) for w in words], "word string")
        got = {
            r["word"]: (r["pieces"], r["n_pieces"], r["score_e6"])
            for r in unigram_viterbi_segment(df, lp).collect()
        }
        for w in words:
            assert got[w] == _ref_viterbi(w, lp), f"word {w!r}: {got[w]} vs {_ref_viterbi(w, lp)}"

    check()


def test_unigram_viterbi_edges(spark):
    from tada_spark.functions.text import unigram_viterbi_segment

    lp = {"a": -1_000_000, "b": -1_500_000, "ab": -2_000_000}
    df = spark.createDataFrame(
        [("",), ("ab",), ("zq",), ("a" * 13,)], "word string"
    )
    got = {
        r["word"]: (r["pieces"], r["n_pieces"], r["score_e6"])
        for r in unigram_viterbi_segment(df, lp, max_word_len=12).collect()
    }
    assert got[""] == ("", 0, None)  # no position → no path score
    # tie: lp(ab) < lp(a)+lp(b)? -2.0M vs -2.5M → 'ab' wins outright
    assert got["ab"] == ("ab", 1, -2_000_000)
    # out-of-vocab: ANY piece not in vocab costs the flat missing
    # penalty, so the optimum is ONE big unknown piece (fewest misses)
    # — the same answer the reference gives; never a crash
    assert got["zq"] == ("zq", 1, -20_000_000)
    # word longer than max_word_len: flagged NULL, not truncated
    assert got["a" * 13] == (None, None, None)


# ---------------------------------------------------------------------------
# composed pipeline + second-batch entries: cross-entry invariants
# ---------------------------------------------------------------------------

SF = "/root/testdata/sf0.001"


def test_web_ingest_pipeline_invariants(spark):
    from tada_spark.functions.dedup import url_dedup
    from tada_spark.queries import CATALOG, _synth_url_col, load

    out = CATALOG["web_ingest_pipeline"][0](spark, SF).collect()
    # url_dedup over the SAME url stream web_ingest dedups (the catalog
    # url_dedup_docs entry now additionally plants NULL urls to pin the
    # r12 singleton passthrough, so it is no longer row-comparable)
    aug = load(spark, SF, "documents").to_df().select(
        "doc_id", _synth_url_col().alias("url")
    )
    dedup_rows = url_dedup(aug, url_col="url", id_col="doc_id").collect()
    # one survivor per canonical URL, and the survivor is the keep-min id
    assert len(out) == len(dedup_rows)
    keep = {r["canon_url"]: r["keep_id"] for r in dedup_rows}
    for r in out:
        assert r["doc_id"] == keep[r["canon_url"]]
        assert r["kept"] == (r["n_words"] >= 10)


def test_unigram_apply_consistent_with_word_level(spark):
    from pyspark.sql import functions as F

    from tada_spark.queries import CATALOG, load

    per_doc = CATALOG["unigram_apply_docs"][0](spark, SF)
    agg = per_doc.agg(
        F.sum("n_words").alias("w"), F.sum("score_e6").alias("s")
    ).collect()[0]
    # total words across docs == Σ n_occ of the word-level entry, and
    # the corpus log-prob decomposes identically
    words = CATALOG["unigram_tokenize_words"][0](spark, SF)
    wagg = words.agg(
        F.sum("n_occ").alias("w"),
        F.sum(F.col("n_occ") * F.col("score_e6")).alias("s"),
    ).collect()[0]
    assert agg["w"] == wagg["w"]
    assert agg["s"] == wagg["s"]
    # and the doc count matches the corpus (every doc has ≥1 token here)
    n_docs = load(spark, SF, "documents").to_df().filter(F.col("text").isNotNull()).count()
    assert per_doc.count() == n_docs


def test_markup_stats_expected_counts(spark):
    from tada_spark.queries import CATALOG

    rows = CATALOG["markup_stats_docs"][0](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_links"] == 2  # the two nav anchors planted per page
        assert r["n_comments"] == 1
        assert r["n_tags"] > 10
        assert 0.0 < r["text_ratio"] < 1.0


def test_canonical_url_idempotent(spark):
    """canon(canon(u)) == canon(u) — the defining canonicalization
    invariant: a second pass must find nothing left to normalize
    (params stay sorted, stripped noise stays stripped)."""
    from tada_spark.functions.text import canonical_url
    from tada_spark.queries import _synth_url_col

    docs = spark.range(400).select(F.col("id").alias("doc_id"))
    urls = docs.select(_synth_url_col().alias("url"))
    once = canonical_url(F.col("url"))
    out = urls.select(once.alias("c1"), canonical_url(once).alias("c2"))
    assert out.filter(F.col("c1") != F.col("c2")).count() == 0


def test_strip_markup_single_application_semantics(spark):
    """strip_markup is a SINGLE-application cleaner by design: entity
    decode runs after tag removal, so escaped markup in the SOURCE
    ('&lt;b&gt;' — literal text a user typed) survives as '<b>' text.
    Re-applying the cleaner would eat that literal — pin the behavior
    so the pipeline contract (apply once, at ingest) stays explicit."""
    from tada_spark.functions.text import strip_markup

    df = spark.createDataFrame(
        [(1, "<p>user wrote &lt;b&gt; literally</p>")], "id long, t string"
    )
    once = df.select(strip_markup(F.col("t")).alias("c1"))
    assert once.collect()[0]["c1"] == "user wrote <b> literally"
    twice = once.select(strip_markup(F.col("c1")).alias("c2"))
    assert twice.collect()[0]["c2"] == "user wrote literally"  # <b> eaten, spaces re-collapsed


def test_domain_boilerplate_discovers_planted_chrome(spark):
    """The frequency pass must discover EXACTLY the per-page chrome
    (nav, list items, short tail, footer — lines repeated on every
    page of a domain) and keep the unique lines (title, heading,
    content paragraph)."""
    from tada_spark.queries import CATALOG

    rows = CATALOG["domain_boilerplate_removal_docs"][0](spark, SF).collect()
    assert rows
    for r in rows:
        # r12: the head block (tab title) / noscript / svg now drop with
        # content, so the synth page renders 7 lines, not 8
        assert r["n_raw"] == 7
        assert r["n_removed"] == 5  # nav, 'one', 'two', short tail, footer
        kept = r["rebuilt"].split("\n")
        assert kept[0].startswith("Doc ")
        assert kept[1].startswith('Quote "')
