"""Round-8 fixes: the three ADVICE items made load-bearing.

Each test here exercises the exact latent path the advisor flagged —
unseen CMS keys, fractional Benford inputs — so the fixes can't
regress silently."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from conftest import SIZE_PATHS, size_path


def test_cms_estimate_unseen_key_is_zero(spark):
    """A probe key the build never saw must return est_n = 0 (absent
    sparse cells ≡ 0), not an inflated min over whatever populated
    cells it collides into — and it must never vanish from the
    output."""
    from tada_spark.functions.sketches import cms_build, cms_estimate

    build = spark.createDataFrame([("a",)] * 7 + [("b",)] * 3, "k string")
    sketch = cms_build(build, F.col("k"), depth=4, width=256)
    probes = spark.createDataFrame(
        [("a",), ("b",), ("never-seen-key",)], "k string"
    )
    out = {r.k: r.est_n for r in
           cms_estimate(probes, sketch, "k", depth=4, width=256).collect()}
    assert set(out) == {"a", "b", "never-seen-key"}
    # present keys can only overcount, never undercount
    assert out["a"] >= 7 and out["b"] >= 3
    # width 256 with 2 distinct build keys: at least one of the 4
    # cells of an unseen key is empty with near-certainty for this
    # fixed key; the estimate must floor to the true count 0
    assert out["never-seen-key"] == 0


def test_cms_estimate_tiny_width_collision_floor(spark):
    """Degenerate width=1: every key shares one cell per row, so every
    probe — seen or not — estimates the TOTAL count. Pins that the
    left-join fix did not change the populated-cell path."""
    from tada_spark.functions.sketches import cms_build, cms_estimate

    build = spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, "k string")
    sketch = cms_build(build, F.col("k"), depth=3, width=1)
    probes = spark.createDataFrame([("a",), ("zzz",)], "k string")
    out = {r.k: r.est_n for r in
           cms_estimate(probes, sketch, "k", depth=3, width=1).collect()}
    assert out == {"a": 7, "zzz": 7}


def test_benford_fractional_values_keep_n_consistent(spark):
    """Values in (0, 1) truncate to 0 and drop entirely: n equals
    Σ obs_d, so no phantom mass inflates every χ² deviation term."""
    from tada_spark.functions.stats import BENFORD_P, benford_chi2

    df = spark.createDataFrame(
        [(0.5,), (0.01,), (1.0,), (19.75,), (2.5,), (-3.0,), (None,)],
        "v double",
    )
    row = benford_chi2(df, F.col("v")).first()
    obs = [getattr(row, f"obs_{i}") for i in range(1, 10)]
    assert row.n == sum(obs) == 3          # 1.0, 19.75, 2.5 survive
    assert (row.obs_1, row.obs_2) == (2, 1)
    exp = 0
    got = {1: 2, 2: 1}
    for i, p in enumerate(BENFORD_P, start=1):
        e = 3.0 * p
        d = got.get(i, 0) - e
        exp += math.floor(d * d / e * 1e6 + 0.5)
    assert row.chi2_e6 == exp


# ---------------------------------------------------------------------------
# Baseline JPEG codec (functions/jpeg): the last dormant decode path
# made REAL. The decoder is general (any baseline grayscale SOF0
# stream); the encoder is the property-test driver and the
# deterministic-payload builder for the jpeg_decode_real entry.
# ---------------------------------------------------------------------------


def test_jpeg_zigzag_is_the_spec_scan():
    """ZIGZAG must be a permutation of 0..63 that walks antidiagonals
    with alternating direction (ITU-T T.81 Figure 5) — derived here
    independently so a typo in the table cannot self-consistently
    round-trip."""
    from tada_spark.functions.jpeg import ZIGZAG

    expect = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        # even antidiagonals run bottom-left -> top-right
        rows = reversed(list(rng)) if d % 2 == 0 else rng
        expect.extend(r * 8 + (d - r) for r in rows)
    assert ZIGZAG == expect


def test_jpeg_flat_blocks_roundtrip_exactly():
    import numpy as np

    from tada_spark.functions.jpeg import encode_jpeg_gray, jpeg_decode_gray

    img = np.zeros((16, 24), dtype=np.uint8)
    vals = [3, 250, 128, 77, 0, 255]
    for by in range(2):
        for bx in range(3):
            img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = vals[by * 3 + bx]
    assert np.array_equal(jpeg_decode_gray(encode_jpeg_gray(img)), img)


def test_jpeg_partial_edge_blocks_crop_exactly():
    import numpy as np

    from tada_spark.functions.jpeg import encode_jpeg_gray, jpeg_decode_gray

    img = np.full((13, 21), 200, dtype=np.uint8)  # 2x3 blocks, ragged
    out = jpeg_decode_gray(encode_jpeg_gray(img))
    assert out.shape == (13, 21)
    assert np.array_equal(out, img)


def test_jpeg_roundtrip_tolerance_on_arbitrary_images():
    """General path: random images push the AC Huffman tables, ZRL
    runs, and magnitude categories. Error is bounded by the quant
    step (AC 16 -> a few gray levels), not exactness."""
    import numpy as np

    from tada_spark.functions.jpeg import encode_jpeg_gray, jpeg_decode_gray

    rng = np.random.RandomState(11)
    for shape in [(8, 8), (24, 40), (17, 9)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        out = jpeg_decode_gray(encode_jpeg_gray(img))
        assert out.shape == shape
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.max() <= 40, f"max err {err.max()} at {shape}"
    # smooth content decodes near-losslessly
    x = np.arange(48)
    grad = ((x[None, :] + 2 * np.arange(32)[:, None]) % 256).astype(np.uint8)
    err = np.abs(jpeg_decode_gray(encode_jpeg_gray(grad)).astype(int) - grad.astype(int))
    assert err.max() <= 8


def test_jpeg_decoder_rejects_out_of_scope_streams():
    import numpy as np
    import pytest

    from tada_spark.functions.jpeg import encode_jpeg_gray, jpeg_decode_gray

    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode_gray(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError, match="EOI before SOS"):
        jpeg_decode_gray(b"\xff\xd8\xff\xd9")
    # arithmetic-coded marker (SOF9) must refuse, not mis-decode
    good = bytearray(encode_jpeg_gray(np.full((8, 8), 50, dtype=np.uint8)))
    sof = good.find(b"\xff\xc0")
    good[sof + 1] = 0xC9
    with pytest.raises(ValueError, match="non-baseline"):
        jpeg_decode_gray(bytes(good))
    # a baseline stream whose SOF marker is flipped to SOF2 carries a
    # baseline scan script (Ss=0, Se=63) that is malformed AS
    # progressive — the decoder must refuse it, not mis-decode
    good[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan must have Se=0"):
        jpeg_decode_gray(bytes(good))
    # a stream cut mid-entropy-data raises the contract ValueError,
    # not IndexError (r8 ADVICE: _BitReader bounds)
    whole = encode_jpeg_gray(np.arange(64, dtype=np.uint8).reshape(8, 8) * 3)
    sos = whole.find(b"\xff\xda")
    assert sos > 0
    truncated = whole[: sos + 8]  # keep the SOS header, drop the bits
    with pytest.raises(ValueError, match="truncated entropy stream"):
        jpeg_decode_gray(truncated)


def test_jpeg_adapter_matches_png_convention():
    """jpeg_image_decoder returns (w, h, r6(mean_luma)) exactly like
    png_image_decoder, so image_features treats the decoders as
    drop-in swaps."""
    import math

    import numpy as np

    from tada_spark.functions.jpeg import encode_jpeg_gray, jpeg_image_decoder

    img = np.full((10, 12), 77, dtype=np.uint8)
    w, h, luma = jpeg_image_decoder(encode_jpeg_gray(img))
    assert (w, h) == (12, 10)
    assert luma == math.floor(77 * 120 / (120 * 255) * 1e6 + 0.5) / 1e6


def test_jpeg_cross_checked_against_pillow_if_available():
    """External validation the moment the environment gains Pillow:
    PIL must decode our encoder's stream to the same pixels (flat
    blocks are exact under any conformant decoder). Skips in this
    container — the swap-contract discipline of pil_image_decoder."""
    import numpy as np
    import pytest

    try:
        import io

        from PIL import Image
    except ImportError:
        pytest.skip("no Pillow in container — cross-check dormant")
    from tada_spark.functions.jpeg import encode_jpeg_gray

    img = np.zeros((16, 16), dtype=np.uint8)
    for by in range(2):
        for bx in range(2):
            img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = 40 + 60 * (by * 2 + bx)
    pil = np.asarray(Image.open(io.BytesIO(encode_jpeg_gray(img))).convert("L"))
    assert np.array_equal(pil, img)


def test_jpeg_color420_neutral_chroma_exact():
    """4:2:0 color with Cb=Cr=128: the full interleaved-MCU path runs
    (4 luma + 2 chroma blocks per MCU, per-component DC predictors,
    chroma upsample, YCbCr->RGB) and the output is exactly (Y, Y, Y) —
    the analytic hook the jpeg_decode_real color half relies on."""
    import numpy as np

    from tada_spark.functions.jpeg import encode_jpeg_color420, jpeg_decode

    y = np.zeros((16, 16), dtype=np.uint8)
    for by in range(2):
        for bx in range(2):
            y[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = 40 + 60 * (by * 2 + bx)
    neutral = np.full((8, 8), 128, dtype=np.uint8)
    out = jpeg_decode(encode_jpeg_color420(y, neutral, neutral))
    assert out.shape == (16, 16, 3)
    for c in range(3):
        assert np.array_equal(out[:, :, c], y)


def test_jpeg_color420_odd_dims_neutral_exact():
    import numpy as np

    from tada_spark.functions.jpeg import encode_jpeg_color420, jpeg_decode

    y = np.full((11, 19), 90, dtype=np.uint8)
    c = np.full((6, 10), 128, dtype=np.uint8)
    out = jpeg_decode(encode_jpeg_color420(y, c, c))
    assert out.shape == (11, 19, 3)
    for ch in range(3):
        assert np.array_equal(out[:, :, ch], y)


def test_jpeg_color420_flat_tiles_within_one():
    """Flat 16x16 RGB tiles (each MCU one color): chroma subsampling
    is lossless, quantization is DC-exact, and the only error left is
    the double colorspace rounding — bounded by +/-1 per channel."""
    import numpy as np

    from tada_spark.functions.jpeg import encode_jpeg_rgb, jpeg_decode

    rng = np.random.RandomState(3)
    rgb = np.zeros((32, 48, 3), dtype=np.uint8)
    for ty in range(2):
        for tx in range(3):
            rgb[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16] = rng.randint(0, 256, 3)
    dec = jpeg_decode(encode_jpeg_rgb(rgb))
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 1


def test_jpeg_color420_smooth_roundtrip_tolerance():
    import numpy as np

    from tada_spark.functions.jpeg import encode_jpeg_rgb, jpeg_decode

    xx = np.arange(32)
    sm = np.stack(
        [((xx[None, :] + 2 * np.arange(32)[:, None]) % 256)] * 3, axis=2
    ).astype(np.uint8)
    dec = jpeg_decode(encode_jpeg_rgb(sm))
    assert np.abs(dec.astype(int) - sm.astype(int)).max() <= 8


def test_jpeg_gray_strictness_and_unsupported_sampling():
    import numpy as np
    import pytest

    from tada_spark.functions.jpeg import (
        encode_jpeg_color420, jpeg_decode, jpeg_decode_gray)

    y = np.full((8, 8), 100, dtype=np.uint8)
    c = np.full((4, 4), 128, dtype=np.uint8)
    color = encode_jpeg_color420(y, c, c)
    with pytest.raises(ValueError, match="color JPEG"):
        jpeg_decode_gray(color)
    # exotic sampling (luma 3x1 — outside the 2x2-over-1x1 family that
    # r9 extended support to) must refuse, not mis-tile
    bad = bytearray(color)
    sof = bad.find(b"\xff\xc0")
    # SOF0 layout: FFC0 len(2) prec(1) h(2) w(2) ncomp(1) [id HV tq]...
    assert bad[sof + 11] == 0x22  # luma HV byte
    bad[sof + 11] = 0x31
    with pytest.raises(ValueError, match="sampling"):
        jpeg_decode(bytes(bad))


def test_jpeg_color_cross_checked_against_pillow_if_available():
    """Color twin of the Pillow cross-check: dormant in this container,
    external validation anywhere Pillow exists."""
    import numpy as np
    import pytest

    try:
        import io

        from PIL import Image
    except ImportError:
        pytest.skip("no Pillow in container — cross-check dormant")
    from tada_spark.functions.jpeg import encode_jpeg_color420

    y = np.full((16, 16), 77, dtype=np.uint8)
    neutral = np.full((8, 8), 128, dtype=np.uint8)
    pil = np.asarray(
        Image.open(io.BytesIO(encode_jpeg_color420(y, neutral, neutral))).convert("RGB")
    )
    assert np.array_equal(pil, np.stack([y] * 3, axis=2))


# ---------------------------------------------------------------------------
# Property defense of the r8 jaccard exact-dup collapse: the rewrite
# must be row-for-row identical to naive all-pairs on corpora with
# duplicate clusters, empty strings, null text, and interleaved ids —
# the invariants the expansion logic leans on.
# ---------------------------------------------------------------------------


def _naive_jaccard(rows, ngram, threshold):
    """Reference all-pairs implementation in plain Python, mirroring
    char_shingles' short-text rule (text shorter than n -> [text[:n]],
    so '' -> ['']) and the floor-e6 rounding."""
    import math

    def shingles(t):
        k = len(t) - (ngram - 1)
        return {t[i:i + ngram] for i in range(max(k, 1))}

    out = []
    docs = [(i, lang, t) for i, lang, t in rows if t is not None]
    for x in range(len(docs)):
        for y in range(len(docs)):
            ia, la, ta = docs[x]
            ib, lb, tb = docs[y]
            if ia >= ib or la != lb:
                continue
            sa, sb = shingles(ta), shingles(tb)
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            jac = math.floor(inter / union * 1e6 + 0.5) / 1e6
            if jac >= threshold:
                out.append((ia, ib, jac))
    return sorted(out)


def test_jaccard_collapse_matches_naive_on_duplicate_heavy_corpus(spark):
    from pyspark.sql import types as T

    from tada_spark.functions.dedup import jaccard_pairs

    rows = [
        # cluster of 4 exact dups with interleaved ids across texts
        (1, "en", "the quick brown fox jumps"),
        (5, "en", "the quick brown fox jumps"),
        (3, "en", "the quick brown fox jumpy"),   # near-dup of cluster
        (9, "en", "the quick brown fox jumps"),
        (12, "en", "the quick brown fox jumps"),
        # empty-text pair: char_shingles('') = [''] -> jaccard 1.0
        (2, "en", ""),
        (7, "en", ""),
        # short texts below ngram: shingle set is the whole text
        (4, "en", "ab"),
        (6, "en", "ab"),
        (8, "en", "xy"),
        # null text: never emitted by either implementation
        (10, "en", None),
        # other-language block: same text must NOT pair cross-block
        (11, "fr", "the quick brown fox jumps"),
        (13, "fr", "the quick brown fox jumps"),
        (14, "de", "totally unrelated words here"),
    ]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    df = spark.createDataFrame(rows, schema)
    for path in SIZE_PATHS:
        with size_path(spark, path):
            got = sorted(
                (r.id_a, r.id_b, r.jaccard)
                for r in jaccard_pairs(df, block_cols=["lang"], ngram=3, threshold=0.3).collect()
            )
        assert got == _naive_jaccard(rows, 3, 0.3), path


def test_jaccard_collapse_matches_naive_randomized(spark):
    """Randomized sweep: small alphabet + short texts force heavy
    duplicate clusters and borderline jaccard values; seeds vary texts,
    block assignment and id interleave."""
    import random

    from pyspark.sql import types as T

    from tada_spark.functions.dedup import jaccard_pairs

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        rows = []
        for i in range(40):
            if rng.random() < 0.08:
                t = None
            else:
                t = "".join(rng.choice("abc ") for _ in range(rng.randrange(0, 9)))
            rows.append((i, rng.choice(["en", "fr"]), t))
        df = spark.createDataFrame(rows, schema)
        for path in SIZE_PATHS:
            with size_path(spark, path):
                got = sorted(
                    (r.id_a, r.id_b, r.jaccard)
                    for r in jaccard_pairs(
                        df, block_cols=["lang"], ngram=3, threshold=0.4
                    ).collect()
                )
            assert got == _naive_jaccard(rows, 3, 0.4), f"seed {seed} {path}"


def test_jaccard_collapse_no_blocks(spark):
    """block_cols=None: the collapse must still work when the window
    partitions on the fingerprint alone."""
    from pyspark.sql import types as T

    from tada_spark.functions.dedup import jaccard_pairs

    rows = [(1, "x", "hello world"), (2, "x", "hello world"),
            (3, "x", "hello wurld"), (4, "x", "different entirely")]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    df = spark.createDataFrame(rows, schema)
    want = _naive_jaccard([(i, "same", t) for i, _l, t in rows], 3, 0.3)
    for path in SIZE_PATHS:
        with size_path(spark, path):
            got = sorted(
                (r.id_a, r.id_b, r.jaccard)
                for r in jaccard_pairs(df, ngram=3, threshold=0.3).collect()
            )
        assert got == want, path


# ---------------------------------------------------------------------------
# Known-answer tests for the round-8 stats/spatial additions.
# ---------------------------------------------------------------------------


def test_mutual_information_known_answers(spark):
    """Perfect dependence (X == Y, two uniform values) gives MI = ln 2;
    exact independence (balanced 2x2) gives MI = 0; both audited in one
    call through the exploded single-pass path."""
    from tada_spark.functions.stats import mutual_information

    rows = [("a", "a", "p"), ("a", "a", "q"), ("b", "b", "p"), ("b", "b", "q")] * 5
    df = spark.createDataFrame(rows, "x string, same string, indep string")
    out = {
        r.pair: (r.n, r.mi_e6)
        for r in mutual_information(
            df, F.col("x"), [("dep", F.col("same")), ("ind", F.col("indep"))]
        ).collect()
    }
    assert out["ind"] == (20, 0)
    n, mi = out["dep"]
    assert n == 20 and abs(mi - round(math.log(2) * 1e6)) <= 2


def test_mutual_information_rejects_duplicate_pair_labels(spark):
    """Duplicate labels would merge two different y-columns into one
    contingency table; the call must refuse, not emit a bogus MI."""
    import pytest

    from tada_spark.functions.stats import mutual_information

    df = spark.createDataFrame([("a", "b", "c")], "x string, y1 string, y2 string")
    with pytest.raises(ValueError, match="duplicate pair label"):
        mutual_information(df, F.col("x"),
                           [("p", F.col("y1")), ("p", F.col("y2"))])


def test_roc_auc_known_answers(spark):
    """Perfect separation -> 1.0; anti-separation -> 0.0; all scores
    tied -> 0.5 via midranks; single-class group -> NULL."""
    from tada_spark.functions.stats import roc_auc_by_group

    rows = (
        [("sep", 1, 10), ("sep", 1, 9), ("sep", 0, 2), ("sep", 0, 1)]
        + [("anti", 1, 1), ("anti", 1, 2), ("anti", 0, 9), ("anti", 0, 10)]
        + [("tied", 1, 5), ("tied", 1, 5), ("tied", 0, 5), ("tied", 0, 5)]
        + [("onecls", 1, 3), ("onecls", 1, 4)]
    )
    df = spark.createDataFrame(rows, "g string, pos int, s long")
    out = {
        r.g: (r.n_pos, r.n_neg, r.auc_e6)
        for r in roc_auc_by_group(df, "g", F.col("pos"), F.col("s")).collect()
    }
    assert out["sep"] == (2, 2, 1000000)
    assert out["anti"] == (2, 2, 0)
    assert out["tied"] == (2, 2, 500000)
    assert out["onecls"] == (2, 0, None)


def test_theil_sen_known_answers(spark):
    """An exact line recovers its slope regardless of one wild outlier
    y (the robustness OLS lacks); slope_med_e6_x2 is twice the e6
    median. Group 'line': y = 3x + 7 over x=0..4 -> slope 3. Group
    'out': same line but y(4) wrecked -> pairwise slopes still
    median at 3."""
    from tada_spark.functions.stats import theil_sen_by_group

    line = [("line", x, 3 * x + 7) for x in range(5)]
    out = [("out", x, 3 * x + 7) for x in range(4)] + [("out", 4, 1000)]
    df = spark.createDataFrame(line + out, "g string, x long, y long")
    got = {
        r.g: (r.n_points, r.n_pairs, r.slope_med_e6_x2)
        for r in theil_sen_by_group(df, "g", F.col("x"), F.col("y")).collect()
    }
    assert got["line"] == (5, 10, 6_000_000)
    assert got["out"] == (5, 10, 6_000_000)


def test_theil_sen_even_pair_count_midpoint(spark):
    """Even pair counts average the two middle quantized slopes:
    points (0,0),(1,1),(2,4) -> slopes 1, 2, 4/2=2 ... n=3; use 4
    points for 6 pairs: (0,0),(1,1),(2,2),(3,9): slopes
    1,1,1,3,4,7 -> middles 1 and 3 -> median 2 -> x2 = 4e6."""
    from tada_spark.functions.stats import theil_sen_by_group

    pts = [("g", 0, 0), ("g", 1, 1), ("g", 2, 2), ("g", 3, 9)]
    df = spark.createDataFrame(pts, "g string, x long, y long")
    row = theil_sen_by_group(df, "g", F.col("x"), F.col("y")).collect()[0]
    assert (row.n_points, row.n_pairs, row.slope_med_e6_x2) == (4, 6, 4_000_000)


def test_seasonal_decompose_constant_series(spark):
    """A constant daily series decomposes into trend = the value,
    seasonal = 0, remainder = 0 on interior days, NULL components on
    the 3-day edges."""
    import datetime

    from tada_spark.functions.stats import seasonal_decompose_weekday

    days = [datetime.date(2024, 1, d) for d in range(1, 15)]
    df = spark.createDataFrame([(d, 500) for d in days], "d date, c long")
    out = sorted(
        seasonal_decompose_weekday(df, F.col("d"), F.col("c")).collect(),
        key=lambda r: r.day,
    )
    assert len(out) == 14
    for r in out[:3] + out[-3:]:
        assert r.trend_e6 is None and r.seasonal_e6 is None and r.remainder_e6 is None
    for r in out[3:-3]:
        assert r.revenue_c == 500
        assert r.trend_e6 == 500 * 10000
        assert r.seasonal_e6 == 0 and r.remainder_e6 == 0


def test_dbscan_classify_roles(spark):
    """A 5-point tight cluster (all core at min_pts=5), one satellite
    within eps of a core point (border), one isolated point (noise)."""
    from tada_spark.operators.spatial import dbscan_classify

    cluster = [(i, 100 + i, 100) for i in range(5)]   # within eps=10 of each other
    satellite = [(10, 112, 100)]                      # reaches pts 2,3,4 (dist 10,9,8)
    lone = [(20, 900, 900)]
    df = spark.createDataFrame(cluster + satellite + lone, "pid long, x long, y long")
    out = {r.pid: (r.n_in_eps, r.role) for r in
           dbscan_classify(df, id_col="pid", x_col="x", y_col="y", eps=10, min_pts=5).collect()}
    assert {out[i][1] for i in range(5)} == {"core"}
    assert out[0][0] == 5
    assert out[10] == (4, "border")
    assert out[20] == (1, "noise")


def test_kcenter_select_greedy_trajectory(spark):
    """Hand-checkable 1-D layout (as 2-dim vectors): seed = lowest id
    (pos 0), then pos 10 (d2 100), then pos 5 (maxmin 25), then the
    1-vs-1 tie between pos 1 and pos 9 breaks to the lower id."""
    from tada_spark.functions.similarity import kcenter_select

    pts = [(1, [0.0, 0.0]), (2, [10.0, 0.0]), (3, [1.0, 0.0]),
           (4, [9.0, 0.0]), (5, [5.0, 0.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = [(r.sel_order, r.vec_id, r.maxmin_d2_e6)
           for r in kcenter_select(df, k=5).collect()]
    assert got == [(0, 1, None), (1, 2, 100_000_000), (2, 5, 25_000_000),
                   (3, 3, 1_000_000), (4, 4, 1_000_000)]


def test_kcenter_select_k_nonpositive_is_empty(spark):
    """k <= 0 asks for a zero-size coreset: zero rows, not the seed."""
    from tada_spark.functions.similarity import kcenter_select

    df = spark.createDataFrame([(1, [0.0, 0.0])],
                               "vec_id long, embedding array<float>")
    assert kcenter_select(df, k=0).count() == 0
    assert kcenter_select(df, k=-3).count() == 0


def test_retrieval_metrics_known_answers(spark):
    """Ranks 1..5 with hits at 2 and 4, k=3: rr = 1/2, recall@3 = 1/2,
    precision@3 = 1/3; a group with no relevant docs gets NULL rr and
    recall but precision 0."""
    from tada_spark.functions.stats import retrieval_metrics_at_k

    rows = [("q1", r, 1 if r in (2, 4) else 0) for r in range(1, 6)]
    rows += [("q2", r, 0) for r in range(1, 4)]
    df = spark.createDataFrame(rows, "g string, rk long, rel int")
    out = {r.g: r for r in retrieval_metrics_at_k(df, "g", "rk", "rel", 3).collect()}
    r1 = out["q1"]
    assert (r1.n_rel, r1.first_rel_rank, r1.rr_e6) == (2, 2, 500000)
    assert (r1.recall_at_3_e6, r1.precision_at_3_e6) == (500000, 333333)
    r2 = out["q2"]
    assert (r2.n_rel, r2.first_rel_rank, r2.rr_e6) == (0, None, None)
    assert (r2.recall_at_3_e6, r2.precision_at_3_e6) == (None, 0)


def test_grid_containment_join_edges(spark):
    """Inclusive bounds on all four edges; a rect spanning multiple
    grid cells still tags interior points exactly once; inverted
    rects emit nothing."""
    from tada_spark.operators.spatial import grid_containment_join

    pts = [(1, 0, 0), (2, 10, 10), (3, 5, 5), (4, 11, 5), (5, 1000, 1000)]
    rects = [(100, 0, 10, 0, 10), (200, 10, 0, 0, 10)]  # 200 inverted
    p = spark.createDataFrame(pts, "pid long, x long, y long")
    r = spark.createDataFrame(rects, "rid long, x0 long, x1 long, y0 long, y1 long")
    got = sorted(
        (row.rid, row.pid)
        for row in grid_containment_join(
            p, r, point_id="pid", x_col="x", y_col="y",
            rect_id="rid", xmin="x0", xmax="x1", ymin="y0", ymax="y1", cell=4,
        ).collect()
    )
    assert got == [(100, 1), (100, 2), (100, 3)]


def test_ewma_batch_matches_pure_fold(spark):
    """The batch fold must replay fold_ewma (the streaming state
    function) value for value, including the first-element seed and
    out-of-order input (the array_sort re-orders by (ts, seq))."""
    import datetime

    from tada_spark.functions.stats import ewma_by_key
    from tada_spark.streaming.stateful import fold_ewma

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("u", t0 + datetime.timedelta(seconds=3), 3, 10.0),
        ("u", t0 + datetime.timedelta(seconds=1), 1, 2.5),
        ("u", t0 + datetime.timedelta(seconds=2), 2, -4.25),
        ("v", t0, 1, 7.125),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, seq long, v double")
    out = {r.k: (r.n_events, r.ewma_e6) for r in
           ewma_by_key(df, "k", F.col("v"), F.col("ts"), F.col("seq")).collect()}
    import math
    s, n = fold_ewma((None, 0), [2.5, -4.25, 10.0], alpha=0.25)
    assert out["u"] == (n, math.floor(s * 1e6 + 0.5))
    s2, n2 = fold_ewma((None, 0), [7.125], alpha=0.25)
    assert out["v"] == (n2, math.floor(s2 * 1e6 + 0.5))


# ---------------------------------------------------------------------------
# Round-8 review fixes: null-semantics lockstep and graceful edges.
# ---------------------------------------------------------------------------


def test_jaccard_null_blocks_and_ids_never_pair(spark):
    """Naive all-pairs' a.block = b.block and a.id < b.id are both
    NULL-false, so docs with a NULL block value or NULL id must emit
    NOTHING — the window must not group NULLs together, and
    least/greatest must never fabricate a degenerate self-pair
    through a NULL member id."""
    from pyspark.sql import types as T

    from tada_spark.functions.dedup import jaccard_pairs

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    rows = [
        (1, None, "the same text here"),
        (2, None, "the same text here"),     # NULL lang pair: no output
        (None, "en", "the quick brown fox"),
        (4, "en", "the quick brown fox"),    # NULL id: no pair through it
        (5, "en", "the quick brown fax"),
    ]
    df = spark.createDataFrame(rows, schema)
    for path in SIZE_PATHS:
        with size_path(spark, path):
            got = sorted(
                (r.id_a, r.id_b, r.jaccard)
                for r in jaccard_pairs(df, block_cols=["lang"], ngram=3, threshold=0.3).collect()
            )
        # only the (4, 5) near-dup within the non-null 'en' block survives
        assert [(a, b) for a, b, _j in got] == [(4, 5)], path


def test_ewma_null_order_keys_fold_last(spark):
    """A NULL ts row must fold LAST (the oracle's ORDER BY ts is
    DuckDB NULLS LAST; the streaming twin's pandas sort puts NaT
    last) — not first, where Spark's bare struct array_sort puts a
    NULL field."""
    import datetime
    import math

    from tada_spark.functions.stats import ewma_by_key
    from tada_spark.streaming.stateful import fold_ewma

    t0 = datetime.datetime(2024, 1, 1)
    rows = [("u", None, 9, 100.0), ("u", t0, 1, 4.0),
            ("u", t0 + datetime.timedelta(seconds=1), 2, 8.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, seq long, v double")
    row = ewma_by_key(df, "k", F.col("v"), F.col("ts"), F.col("seq")).first()
    s, n = fold_ewma((None, 0), [4.0, 8.0, 100.0], alpha=0.25)
    assert (row.n_events, row.ewma_e6) == (n, math.floor(s * 1e6 + 0.5))


def test_kcenter_empty_corpus_returns_zero_rows(spark):
    from tada_spark.functions.similarity import kcenter_select

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = kcenter_select(df, k=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["sel_order", "vec_id", "maxmin_d2_e6"]


def test_jpeg_fill_bytes_and_standalone_markers(spark):
    """0xFF fill padding before a marker and standalone TEM markers
    must be skipped per T.81, not parsed as if they carried a length
    (which silently swallowed the next real segment)."""
    import numpy as np

    from tada_spark.functions.jpeg import encode_jpeg_gray, jpeg_decode_gray

    img = np.full((8, 8), 77, dtype=np.uint8)
    good = encode_jpeg_gray(img)
    # inject a fill byte + TEM right after SOI
    patched = good[:2] + b"\xff" + b"\xff\x01" + good[2:]
    assert np.array_equal(jpeg_decode_gray(patched), img)


def test_pit_join_known_answers(spark):
    """Hand-built history for key 1: v1 price 10 on [1,3), v2 price 20
    open from 3. Facts at t=0 (before insert: NULL), t=1 (v1), t=2
    (v1), t=3 (boundary: the NEW version), t=9 (open v2). Key 2 has a
    delete-closed interval [1,2): t=5 must be NULL again. Key 3 has no
    history at all."""
    from tada_spark.operators.cdc import pit_join

    hist = spark.createDataFrame(
        [(1, 10.0, 1, 3, False), (1, 20.0, 3, None, True),
         (2, 7.0, 1, 2, False)],
        "k long, price double, valid_from long, valid_to long, is_current boolean",
    )
    facts = spark.createDataFrame(
        [(1, 0), (1, 1), (1, 2), (1, 3), (1, 9), (2, 5), (3, 4)],
        "k long, t long",
    )
    out = {(r.k, r.t): (r.price, r.valid_from) for r in
           pit_join(facts, hist, "k", "t").collect()}
    assert out[(1, 0)] == (None, None)
    assert out[(1, 1)] == (10.0, 1)
    assert out[(1, 2)] == (10.0, 1)
    assert out[(1, 3)] == (20.0, 3)
    assert out[(1, 9)] == (20.0, 3)
    assert out[(2, 5)] == (None, None)
    assert out[(3, 4)] == (None, None)
    assert len(out) == 7


def test_kcenter_duplicate_vectors_never_reselect(spark):
    """Exact-duplicate embeddings tie at floored d2=0; the argmax must
    pick a NEW id, never re-select a chosen one — and k > n stops at n
    distinct selections."""
    from tada_spark.functions.similarity import kcenter_select

    pts = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 0.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = [(r.sel_order, r.vec_id, r.maxmin_d2_e6)
           for r in kcenter_select(df, k=5).collect()]
    assert got == [(0, 0, None), (1, 1, 0), (2, 2, 0)]


def test_pit_join_null_history_rows_never_cover(spark):
    """History rows with a NULL key or NULL valid_from are NULL-false
    in the oracle's range join and must never cover a fact; NULL-key
    facts stay in the output with NULL features (LEFT JOIN miss)."""
    from tada_spark.operators.cdc import pit_join

    hist = spark.createDataFrame(
        [(None, 99.0, 0, None, True), (1, 88.0, None, None, True),
         (1, 10.0, 2, None, True)],
        "k long, price double, valid_from long, valid_to long, is_current boolean",
    )
    facts = spark.createDataFrame([(1, 1, 0), (1, 5, 1), (None, 5, 2)],
                                  "k long, t long, fid long")
    got = {r.fid: (r.price, r.valid_from) for r in
           pit_join(facts, hist, "k", "t").collect()}
    assert got == {0: (None, None), 1: (10.0, 2), 2: (None, None)}


def test_pit_join_rejects_column_collision(spark):
    import pytest

    from tada_spark.operators.cdc import pit_join

    hist = spark.createDataFrame([(1, 10.0, 1, None, True)],
                                 "k long, price double, valid_from long, valid_to long, is_current boolean")
    facts = spark.createDataFrame([(1, 2, 5.0)], "k long, t long, price double")
    with pytest.raises(ValueError, match="collide"):
        pit_join(facts, hist, "k", "t")


def test_stream_ewma_null_ts_folds_last(spark, tmp_path):
    """The streaming twin must fold NULL-ts rows LAST like the batch
    fold and the recursive-CTE oracle — NaT's int64 form is the MIN
    int and sorted them first before the na_position fix."""
    import datetime
    import math

    from tada_spark.functions.stats import ewma_by_key
    from tada_spark.streaming.stateful import ewma_scores, fold_ewma

    t0 = datetime.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_id long, value double"
    rows = [(7, None, 9, 100.0), (7, t0, 1, 4.0),
            (7, t0 + datetime.timedelta(seconds=1), 2, 8.0),
            (7, None, 3, 50.0)]
    batch = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "null_ts_src")
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = ewma_scores(stream, "user_id", "value", "ts", "event_id", alpha=0.25)
    q = (out.writeStream.format("memory").queryName("t_null_ts")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    row = spark.table("t_null_ts").collect()[-1]
    # lockstep order: ts-sorted rows first, then NULL-ts by seq
    s, n = fold_ewma((None, 0), [4.0, 8.0, 50.0, 100.0], alpha=0.25)
    assert (row.n_events, row.ewma_e6) == (n, math.floor(s * 1e6 + 0.5))
    # and the batch twin agrees on the identical input
    brow = ewma_by_key(
        batch, "user_id", F.col("value"), F.col("ts"), F.col("event_id")
    ).first()
    assert (brow.n_events, brow.ewma_e6) == (row.n_events, row.ewma_e6)


def test_pit_join_cast_null_valid_from_never_covers(spark):
    """A valid_from that casts to NULL long (unparseable string) must
    drop like a NULL — not sort first and cover every fact."""
    from tada_spark.operators.cdc import pit_join

    hist = spark.createDataFrame(
        [(1, 99.0, "not-a-number", None, True), (1, 10.0, "2", None, True)],
        "k long, price double, valid_from string, valid_to long, is_current boolean",
    )
    facts = spark.createDataFrame([(1, 0, 0), (1, 3, 1)], "k long, t long, fid long")
    got = {r.fid: (r.price, r.valid_from) for r in
           pit_join(facts, hist, "k", "t").collect()}
    assert got == {0: (None, None), 1: (10.0, 2)}


def test_pit_join_rejects_valid_from_collision(spark):
    import pytest

    from tada_spark.operators.cdc import pit_join

    hist = spark.createDataFrame(
        [(1, 10.0, 1, None, True)],
        "k long, price double, valid_from long, valid_to long, is_current boolean",
    )
    facts = spark.createDataFrame([(1, 2, 9)], "k long, t long, valid_from long")
    with pytest.raises(ValueError, match="collide"):
        pit_join(facts, hist, "k", "t")
