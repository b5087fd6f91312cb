"""jaccard_pairs finishes on the driver under the broadcast limit
(plans/semantics.collect_small, the size rule connected_components
shares) and runs its distributed plan above it. Both paths must return
the same rows in the same schema, nullability included."""

from __future__ import annotations

import importlib.util
import os

import pytest

from conftest import SF_DIR, SIZE_PATHS, broadcast_threshold, size_path

#: the catalog entries built on jaccard_pairs
JACCARD_ENTRIES = (
    "jaccard_near_dups",
    "near_dup_components",
    "near_dup_triangles",
    "pagerank_near_dup",
    "dedup_threshold_sweep_docs",
)


def on_driver(df) -> bool:
    """Whether a result is the driver path's Arrow-built local frame."""
    return df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"


def schema(id_type: str, nullable: bool = True) -> str:
    nn = "" if nullable else " not null"
    return f"doc_id {id_type}{nn}, lang string{nn}, text string{nn}"


def both_paths(spark, df, **kw):
    """jaccard_pairs on each path: {path: (schema, sorted rows)}. The
    default threshold must take the driver path, -1 the distributed one."""
    from tada_spark.functions.dedup import jaccard_pairs

    out = {}
    for path in SIZE_PATHS:
        with size_path(spark, path):
            res = jaccard_pairs(df, **kw)
            assert on_driver(res) == (path == "driver"), path
            out[path] = (res.schema, sorted((tuple(r) for r in res.collect()), key=repr))
    return out


SMP = "\U0001d518\U0001d52b\U0001d526"  # three non-BMP letters
CASES = {
    "empty_text": (
        [(1, "en", ""), (2, "en", ""), (3, "en", "abc"), (4, "en", "")],
        {"block_cols": ["lang"], "ngram": 3, "threshold": 0.0},
    ),
    "text_shorter_than_ngram": (
        [(1, "en", "ab"), (2, "en", "ab"), (3, "en", "abx"), (4, "en", "a"), (5, "en", "xy")],
        {"block_cols": ["lang"], "ngram": 4, "threshold": 0.0},
    ),
    "non_bmp": (
        [
            (1, "en", SMP + " text \U0001f600"),
            (2, "en", SMP + " test \U0001f600"),
            (3, "en", SMP + "\U0001f600\U0001f601"),
            (4, "en", SMP + "\U0001f600\U0001f602"),
            (5, "en", "été " + SMP),
        ],
        {"block_cols": ["lang"], "ngram": 2, "threshold": 0.2},
    ),
    "exact_duplicates": (
        [
            (7, "en", "the quick brown fox"),
            (2, "en", "the quick brown fox"),
            (9, "en", "the quick brown fax"),
            (4, "en", "the quick brown fox"),
            (3, "en", "the quick brown fax"),
            (5, "fr", "the quick brown fox"),
            (6, "en", "the quick brown fox"),
        ],
        {"block_cols": ["lang"], "ngram": 3, "threshold": 0.3},
    ),
    "nulls": (
        [
            (None, "en", "the quick brown fox"),
            (1, "en", "the quick brown fox"),
            (2, "en", None),
            (3, None, "the quick brown fox"),
            (4, None, "the quick brown fox"),
            (5, "en", "the quick brown fix"),
        ],
        {"block_cols": ["lang"], "ngram": 3, "threshold": 0.3},
    ),
    "threshold_above_one": (
        [(1, "en", "same text"), (2, "en", "same text"), (3, "en", "same text!")],
        {"block_cols": ["lang"], "ngram": 3, "threshold": 1.5},
    ),
    "no_block_cols": (
        [(1, "en", "hello world"), (2, "fr", "hello world"), (3, "de", "hello wurld"), (4, "en", "other")],
        {"ngram": 3, "threshold": 0.3},
    ),
}


@pytest.mark.parametrize(
    "case,nullable",
    [
        (case, nullable)
        for case, (rows, _) in sorted(CASES.items())
        for nullable in (True, False)
        if nullable or all(v is not None for r in rows for v in r)
    ],
)
def test_jaccard_paths_agree(spark, case, nullable):
    rows, kw = CASES[case]
    df = spark.createDataFrame(rows, schema("bigint", nullable))
    out = both_paths(spark, df, **kw)
    assert out["driver"] == out["distributed"]
    id_field = out["driver"][0]["id_a"]
    assert id_field.nullable == nullable
    # every case but threshold > 1.0 must produce pairs to compare
    assert bool(out["driver"][1]) == (case != "threshold_above_one")


REPEATED_IDS = [
    (2, "en", "the quick brown fox"),
    (7, "en", "the quick brown fox"),
    (3, "en", "the quick brown fax"),
    (2, "en", "the quick brown fix"),
    (9, "en", "the quick brown fix"),
]


@pytest.mark.parametrize(
    "path",
    [
        pytest.param(
            "driver",
            marks=pytest.mark.xfail(
                strict=True,
                reason="the driver path skips every rep pair whose min ids are equal, so"
                " the similar 'fox' and 'fix' groups (both min id 2) never pair",
            ),
        ),
        pytest.param(
            "distributed",
            marks=pytest.mark.xfail(
                strict=True,
                reason="the distributed plan expands member pairs by rep id, so two"
                " exact-duplicate groups whose min id is the same doc id merge and"
                " their pairs repeat",
            ),
        ),
    ],
)
def test_jaccard_repeated_ids_match_naive_all_pairs(spark, path):
    """A doc id that appears in two similar exact-duplicate groups.
    jaccard_pairs assumes unique doc ids (every catalog entry has them);
    with a repeated id neither path gives naive all-pairs (a.id < b.id
    within a block), and the two paths give different rows."""
    from test_r8_ops import _naive_jaccard

    from tada_spark.functions.dedup import jaccard_pairs

    df = spark.createDataFrame(REPEATED_IDS, schema("bigint"))
    with size_path(spark, path):
        res = jaccard_pairs(df, block_cols=["lang"], ngram=3, threshold=0.3)
        got = sorted(tuple(r) for r in res.collect())
    assert got == _naive_jaccard(REPEATED_IDS, 3, 0.3)


@pytest.mark.parametrize("id_type", ["string", "int", "smallint", "tinyint"])
def test_jaccard_paths_agree_on_id_types(spark, id_type):
    """Ids order the same way on both paths: Python compares strings by
    code point, Spark by UTF-8 bytes, and the two orders agree (the
    fullwidth letter sorts before the non-BMP emoji on both, where
    UTF-16 order would put it after)."""
    texts = ["near dup text", "near dup text", "near dup test", "near dup tent"]
    if id_type == "string":
        ids = ["Ａ", "\U0001f600", "b", "a"]
    else:
        ids = [3, 1, 4, 2]
    rows = [(i, "en", t) for i, t in zip(ids, texts)]
    df = spark.createDataFrame(rows, schema(id_type))
    out = both_paths(spark, df, block_cols=["lang"], ngram=3, threshold=0.3)
    assert out["driver"] == out["distributed"]
    assert len(out["driver"][1]) == 6
    assert out["driver"][0]["id_a"].dataType.simpleString() == id_type


def test_jaccard_float_block_takes_distributed_path(spark):
    """Float block values (NaN and -0.0 equality) stay off the driver."""
    from tada_spark.functions.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(1, 0.5, "same text"), (2, 0.5, "same text"), (3, -0.0, "same text"), (4, 0.0, "same text")],
        "doc_id bigint, blk double, text string",
    )
    res = jaccard_pairs(df, block_cols=["blk"], ngram=3, threshold=0.5)
    assert not on_driver(res)
    assert sorted(tuple(r) for r in res.collect()) == [(1, 2, 1.0), (3, 4, 1.0)]


def _copies(n: int, text: str, start: int = 0) -> list:
    return [(start + i, "en", text) for i in range(n)]


#: inputs whose docs fit under the limit, and the smallest limit in
#: bytes at which each check of the driver's working set passes
WORKING_SET = {
    # 100 distinct 4-char texts, 3 bigram shingles each (3 × 120 bytes):
    # 100·99/2 candidate rep pairs × 24 bytes bind
    "candidate_pairs": (
        [(i, "en", f"x{i:03d}") for i in range(100)],
        {"ngram": 2, "threshold": 0.5},
        100 * 99 // 2 * 24,
    ),
    # one 300-copy group: 0 candidate pairs, 300·299/2 intra pairs
    "intra_pairs": (
        _copies(300, "boilerplate footer"),
        {"ngram": 3, "threshold": 0.5},
        300 * 299 // 2 * 24,
    ),
    # two similar 100-copy groups: 1 candidate and 2 × 4950 intra pairs
    # pass the pre-check; the 100 × 100 member pairs of the one rep
    # pair push the output over it while they expand
    "member_pairs": (
        _copies(100, "near dup text A") + _copies(100, "near dup text B", start=100),
        {"ngram": 3, "threshold": 0.5},
        (2 * 4950 + 100 * 100) * 24,
    ),
    # two disjoint 1000-code-point texts: 998 shingles each at
    # 112 + 4 × 3 bytes, one pair at jaccard 0.0
    "shingles": (
        [(i, "en", "".join(map(chr, range(start, start + 1000)))) for i, start in ((1, 0x4E00), (2, 0x5E00))],
        {"ngram": 3, "threshold": 0.0},
        2 * 998 * (112 + 4 * 3),
    ),
}


@pytest.mark.parametrize("case", sorted(WORKING_SET))
def test_jaccard_falls_back_when_working_set_exceeds_limit(spark, case):
    """One byte under each check's boundary the distributed plan runs;
    at the boundary the driver does, with the same rows."""
    from tada_spark.functions.dedup import jaccard_pairs

    rows, kw, boundary = WORKING_SET[case]
    df = spark.createDataFrame(rows, schema("bigint"))
    with size_path(spark, "distributed"):
        want = sorted(tuple(r) for r in jaccard_pairs(df, block_cols=["lang"], **kw).collect())
    assert want
    for limit, driver in ((boundary - 1, False), (boundary, True)):
        with broadcast_threshold(spark, limit):
            res = jaccard_pairs(df, block_cols=["lang"], **kw)
            assert on_driver(res) == driver, limit
            assert sorted(tuple(r) for r in res.collect()) == want


def test_collect_small_size_rule(spark):
    """Row cap = limit // (8 + the row's defaultSize); the Arrow bytes
    must also fit; a limit <= 0 collects nothing."""
    from tada_spark.plans.semantics import collect_small

    ids = spark.range(10)  # one bigint: 16 bytes per row
    with broadcast_threshold(spark, -1):
        assert collect_small(ids) is None
    with broadcast_threshold(spark, 16 * 10 - 1):
        assert collect_small(ids) is None
    with broadcast_threshold(spark, 16 * 10):
        assert collect_small(ids).column(0).to_pylist() == list(range(10))
    wide = spark.createDataFrame([("x" * 2000,)], "s string")  # estimated at 28 bytes
    with broadcast_threshold(spark, 1000):
        assert collect_small(wide) is None


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle_mod",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_oracle.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_jaccard_entries_hash_the_same_on_both_paths(spark):
    """Invariance slice: each catalog entry built on jaccard_pairs gives
    one check_oracle table hash with the default broadcast threshold
    (driver finishes) and with -1 (distributed plans)."""
    from tada_spark.queries import CATALOG

    table_hash = _check_oracle().table_hash
    for name in JACCARD_ENTRIES:
        hashes = {}
        for path in SIZE_PATHS:
            with size_path(spark, path):
                df = CATALOG[name][0](spark, SF_DIR)
                hashes[path] = table_hash(df.columns, [tuple(r) for r in df.collect()])
        assert hashes["driver"] == hashes["distributed"], name
        assert hashes["driver"][1] > 0, name
