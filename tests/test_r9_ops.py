"""Round-9 additions: progressive JPEG (SOF2) decode + encoder twin.

The load-bearing invariant: a progressive stream transmits exactly the
same quantized coefficients as the baseline encoding of the same
planes, only re-ordered across scans — so jpeg_decode(progressive)
must equal jpeg_decode(baseline) BIT FOR BIT on every input, which is
a far stronger check than any tolerance band."""

from __future__ import annotations

import numpy as np
import pytest


def _rand_gray(rng, lo=4, hi=48):
    h, w = int(rng.integers(lo, hi)), int(rng.integers(lo, hi))
    return rng.integers(0, 256, size=(h, w), dtype=np.uint8)


def test_progressive_gray_matches_baseline_bitwise():
    from tada_spark.functions.jpeg import (
        encode_jpeg_gray, encode_jpeg_progressive, jpeg_decode)

    rng = np.random.default_rng(901)
    for _ in range(10):
        img = _rand_gray(rng)
        base = jpeg_decode(encode_jpeg_gray(img))
        prog = jpeg_decode(encode_jpeg_progressive(img))
        assert np.array_equal(prog, base)


def test_progressive_color420_matches_baseline_bitwise():
    from tada_spark.functions.jpeg import (
        encode_jpeg_color420, encode_jpeg_progressive, jpeg_decode)

    rng = np.random.default_rng(902)
    for _ in range(8):
        y = _rand_gray(rng, 5, 50)
        h, w = y.shape
        ch, cw = (h + 1) // 2, (w + 1) // 2
        cb = rng.integers(0, 256, size=(ch, cw), dtype=np.uint8)
        cr = rng.integers(0, 256, size=(ch, cw), dtype=np.uint8)
        base = jpeg_decode(encode_jpeg_color420(y, cb, cr))
        prog = jpeg_decode(encode_jpeg_progressive(y, cb, cr))
        assert np.array_equal(prog, base)


def test_progressive_band_splits_and_edges():
    """Every spectral split point re-orders the scans differently but
    must reconstruct the same image; 1x1 and dense-gradient images
    exercise the EOB-only and ZRL/correction-bit extremes."""
    from tada_spark.functions.jpeg import (
        encode_jpeg_gray, encode_jpeg_progressive, jpeg_decode)

    rng = np.random.default_rng(903)
    img = _rand_gray(rng, 15, 30)
    base = jpeg_decode(encode_jpeg_gray(img))
    for bs in (2, 10, 33, 63):
        assert np.array_equal(
            jpeg_decode(encode_jpeg_progressive(img, band_split=bs)), base)
    one = rng.integers(0, 256, size=(1, 1), dtype=np.uint8)
    assert np.array_equal(jpeg_decode(encode_jpeg_progressive(one)),
                          jpeg_decode(encode_jpeg_gray(one)))
    gy, gx = np.mgrid[0:37, 0:41]
    grad = ((gy * 5 + gx * 3) % 256).astype(np.uint8)
    assert np.array_equal(jpeg_decode(encode_jpeg_progressive(grad)),
                          jpeg_decode(encode_jpeg_gray(grad)))


def test_progressive_flat_blocks_roundtrip_exactly():
    """Flat 8x8 blocks with QTABLE_FLAT8 are exactly invertible through
    the lossy pipeline (the jpeg_decode_real discipline) — progressive
    transport must preserve that exactness."""
    from tada_spark.functions.jpeg import encode_jpeg_progressive, jpeg_decode

    vals = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20 + 5
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    assert np.array_equal(jpeg_decode(encode_jpeg_progressive(img)), img)


def test_progressive_error_paths():
    from tada_spark.functions.jpeg import (
        encode_jpeg_progressive, jpeg_decode)

    img = np.full((8, 8), 77, dtype=np.uint8)
    whole = encode_jpeg_progressive(img)
    # cut inside the first scan's entropy data
    sos = whole.find(b"\xff\xda")
    with pytest.raises(ValueError, match="truncated"):
        jpeg_decode(whole[:sos + 9])
    # SOF2 with no scan at all
    eoi_less = whole[:whole.find(b"\xff\xda")] + b"\xff\xd9"
    with pytest.raises(ValueError, match="EOI before SOS"):
        jpeg_decode(eoi_less)


def test_progressive_through_image_features_adapter(spark):
    """The mapInPandas adapter decodes progressive payloads exactly
    like baseline ones — same schema, same values, no dropped rows."""
    import pandas as pd

    from tada_spark.functions import multimodal
    from tada_spark.functions.jpeg import (
        encode_jpeg_gray, encode_jpeg_progressive, jpeg_image_decoder)

    rng = np.random.default_rng(904)
    rows = []
    for mid in range(6):
        img = _rand_gray(rng, 9, 25)
        enc = encode_jpeg_progressive(img) if mid % 2 else encode_jpeg_gray(img)
        rows.append((mid, enc, img.shape))
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": [r[0] for r in rows],
                      "payload": [bytearray(r[1]) for r in rows]}))
    out = {
        r["media_id"]: (r["width"], r["height"])
        for r in multimodal.image_features(
            df, decoder=jpeg_image_decoder).collect()
    }
    assert len(out) == 6
    for mid, _enc, (h, w) in rows:
        assert out[mid] == (w, h)


# ---------------------------------------------------------------------------
# Property: progressive transport is coefficient-lossless vs baseline.
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    @given(
        img=arrays(
            np.uint8,
            shape=st.tuples(st.integers(1, 33), st.integers(1, 33)),
            elements=st.integers(0, 255),
        ),
        band_split=st.integers(2, 63),
    )
    @settings(max_examples=25, deadline=None)
    def test_progressive_identity_property(img, band_split):
        from tada_spark.functions.jpeg import (
            encode_jpeg_gray, encode_jpeg_progressive, jpeg_decode)

        base = jpeg_decode(encode_jpeg_gray(img))
        prog = jpeg_decode(encode_jpeg_progressive(img, band_split=band_split))
        assert np.array_equal(prog, base)
except ImportError:  # pragma: no cover
    pass


def test_ac_refinement_lockstep_on_synthetic_bands():
    """Drive _emit_ac_refine/_decode_ac_refine directly on crafted
    coefficient bands — guarantees the ZRL-in-refinement, EOB-with-
    buffered-correction-bits, and history-transparency paths all run,
    which DCT-produced images cannot be relied on to hit."""
    import numpy as np

    from tada_spark.functions.jpeg import (
        AC_LUMA_BITS, AC_LUMA_VALS, _BitReader, _BitWriter,
        _build_decode_table, _build_encode_table,
        _decode_ac_refine, _emit_ac_refine)

    ac_enc = _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
    ac_dec = _build_decode_table(AC_LUMA_BITS, AC_LUMA_VALS)

    def roundtrip(band):
        band = np.asarray(band, dtype=np.int64)
        # decoder state BEFORE the refinement scan: the Al=1 first
        # scan transmitted sign(v) * ((|v| >> 1) << 1)
        pre = np.sign(band) * ((np.abs(band) >> 1) << 1)
        coef = np.zeros(64, dtype=np.int64)
        coef[1:1 + len(band)] = pre
        wtr = _BitWriter()
        _emit_ac_refine(wtr, band, ac_enc, 0)
        r = _BitReader(wtr.flush(), 0)
        _decode_ac_refine(r, ac_dec, coef, 1, len(band), 0, 0)
        assert list(coef[1:1 + len(band)]) == list(band), band

    # ZRL in refinement: >15 zero-HISTORY positions before a new ±1,
    # with history coefficients (|v|>=2) sprinkled in (transparent to
    # the run but consuming correction bits)
    band = [0] * 63
    band[4] = 5       # history, correction bit 1
    band[9] = -4      # history, correction bit 0
    band[30] = 1      # newly nonzero after 28 zero-history positions
    band[40] = -1
    roundtrip(band)
    # EOB with buffered correction bits only (no new nonzeros at all)
    band = [0] * 20
    band[3], band[7] = 3, -2
    roundtrip(band)
    # all-zero band: bare EOB
    roundtrip([0] * 30)
    # dense band, everything newly nonzero or history
    rng = np.random.default_rng(905)
    for _ in range(50):
        roundtrip(rng.integers(-9, 10, size=int(rng.integers(1, 64))))


def test_ac_first_eobrun_gt_one_decodes():
    """Real progressive streams (libjpeg with optimized per-scan
    tables) emit EOBn symbols with run > 0 — multi-block end-of-band
    runs — which our encoder never produces (standard tables lack the
    symbols). Hand-build a Huffman table and bitstream to pin the
    decoder's EOB-run accounting across blocks."""
    import numpy as np

    from tada_spark.functions.jpeg import (
        _BitReader, _BitWriter, _decode_ac_first)

    # prefix code: '0' -> (run0,size1); '10' -> EOB2 (0x20)
    table = {(1, 0b0): 0x01, (2, 0b10): 0x20}
    wtr = _BitWriter()
    # block A: one coefficient +1 at k=ss, then EOB2 + 2 extra bits '11'
    wtr.write(0b0, 1)   # symbol (0,1)
    wtr.write(1, 1)     # magnitude bit -> +1
    wtr.write(0b10, 2)  # EOB2
    wtr.write(0b11, 2)  # receive(2) = 3 -> eobrun = (1<<2)-1+3 = 6
    data = wtr.flush()
    r = _BitReader(data, 0)
    blocks = [np.zeros(64, dtype=np.int64) for _ in range(7)]
    eobrun = _decode_ac_first(r, table, blocks[0], 1, 5, 0, 0)
    assert blocks[0][1] == 1 and eobrun == 6
    for i in range(1, 7):
        eobrun = _decode_ac_first(r, table, blocks[i], 1, 5, 0, eobrun)
        assert not blocks[i].any()
    assert eobrun == 0


def test_ac_refine_eobrun_blocks_still_consume_correction_bits():
    """During an EOB run in a refinement scan, skipped blocks STILL
    read one correction bit per nonzero-history coefficient (T.81
    G.1.2.3) — miscounting desynchronizes every later scan."""
    import numpy as np

    from tada_spark.functions.jpeg import (
        _BitReader, _BitWriter, _decode_ac_refine)

    table = {(1, 0b0): 0x00, (2, 0b10): 0x10}  # '0'->EOB1, '10'->EOB2... unused
    wtr = _BitWriter()
    # block A: EOB1 (eobrun=1) -> tail correction bits for its two
    # nonzero-history coefficients: 1 (adds p1 toward sign) then 0
    wtr.write(0b0, 1)
    wtr.write(1, 1)
    wtr.write(0, 1)
    data = wtr.flush()
    r = _BitReader(data, 0)
    coef = np.zeros(64, dtype=np.int64)
    coef[2] = 2    # history: correction bit 1 -> 3
    coef[4] = -2   # history: correction bit 0 -> stays -2
    eobrun = _decode_ac_refine(r, table, coef, 1, 5, 0, 0)
    assert eobrun == 0
    assert coef[2] == 3 and coef[4] == -2


def test_with_rowid_branch_divergence_regression(spark, tmp_path):
    """Round-9 replica finding: with_rowid fans the ranged/sorted frame
    into two branches (offsets + join-back); when Catalyst prunes them
    into DIFFERENT subplans (parquet scan with different column sets),
    each branch re-executed its own range exchange and RangePartitioner
    re-SAMPLED boundaries per execution — pairing one partitioning's
    local indices with another's offsets, i.e. rank inversions at
    partition boundaries (wrong 'first' rows in ordered lookup at the
    15M-row replica; invisible when everything fits one partition).
    with_rowid now pins the frame with a lazy localCheckpoint before
    branching. This test replays the failing shape — parquet source,
    pruned lookup columns, duplicate order-key prefixes, forced
    multi-partition ranges — and cross-checks the ordered first-match
    pick against a window-computed truth."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from tada_spark.frame import Frame

    n = 60_000
    src = (
        spark.range(n)
        .select(
            (F.col("id") % 500).alias("k"),                      # join key: 120 dups each
            (F.col("id") % 37).alias("d"),                       # order prefix: heavy dups
            (F.col("id") * 2654435761 % 999999937).alias("u"),   # unique tiebreak
            (F.col("id") % 7).alias("payload"),
        )
    )
    path = str(tmp_path / "orders_like.parquet")
    src.write.parquet(path)
    right_df = spark.read.parquet(path)
    left = Frame(spark.range(500).select(F.col("id").alias("k")))
    right = Frame(right_df, order_keys=["d", "u"])
    got = left.lookup(
        right, left_on=["k"], right_on=["k"], first_match="ordered"
    ).df.select("k", "u")
    w = Window.partitionBy("k").orderBy("d", "u")
    want = (
        right_df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "u")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_with_rowid_reliable_checkpoint_when_dir_configured(spark, tmp_path):
    """Deployments with executor churn set a checkpoint dir; every pin
    (with_rowid's ranged frame, the connected-components and k-center
    rounds) is then a RELIABLE checkpoint, which survives executor loss,
    instead of a localCheckpoint (whose blocks are unrecoverable), with
    identical results either way."""
    from pyspark.sql import functions as F

    from conftest import size_path
    from tada_spark.functions.dedup import connected_components
    from tada_spark.functions.similarity import kcenter_select
    from tada_spark.plans.semantics import with_rowid

    src = spark.range(10_000).select(
        (F.col("id") % 97).alias("d"),
        (F.col("id") * 2654435761 % 999999937).alias("u"),
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    corpus = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") * 7 % 13).cast("float"), (F.col("id") % 5).cast("float")).alias("embedding"),
    )

    def components():
        with size_path(spark, "distributed"):
            return sorted(tuple(r) for r in connected_components(pairs).collect())

    runs = (
        lambda: {(r.d, r.u): r["__rowid__"] for r in with_rowid(src, ["d", "u"]).collect()},
        components,
        lambda: [tuple(r) for r in kcenter_select(corpus, k=4).collect()],
    )
    ckpt = tmp_path / "ckpt"

    def results(written):
        out = []
        for run in runs:
            out.append(run())
            written.append(len(list(ckpt.rglob("rdd-*"))))
        return out

    local_written, reliable_written = [], []
    local = results(local_written)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(ckpt))
    try:
        reliable = results(reliable_written)
    finally:
        # no public unset API; restore None via the Scala var's
        # bytecode-public setter so later tests see the default
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None
    assert reliable == local
    # each of the three wrote checkpoint files under the dir
    assert local_written == [0, 0, 0]
    assert 0 < reliable_written[0] < reliable_written[1] < reliable_written[2]


def test_encode_progressive_rejects_bad_band_split():
    import numpy as np
    import pytest

    from tada_spark.functions.jpeg import encode_jpeg_progressive

    img = np.full((8, 8), 50, dtype=np.uint8)
    for bad in (0, 1, 64, -3):
        with pytest.raises(ValueError, match="band_split"):
            encode_jpeg_progressive(img, band_split=bad)


def test_pit_join_nonorderable_value_column_degrades_not_crashes(spark):
    """A history value column of a non-orderable type (calendar
    interval) must fall back to the bare (pos, kind) window order —
    the r9 tiebreak is a whitelist, so unknown types degrade to the
    pre-r9 behavior instead of failing analysis."""
    from pyspark.sql import functions as F

    from tada_spark.operators.cdc import pit_join

    hist = spark.createDataFrame(
        [(1, 10, None, "a")], "k long, valid_from long, valid_to long, v string"
    ).withColumn("dur", F.expr("make_interval(0, 0, 0, 1, 0, 0, 0)"))
    facts = spark.createDataFrame([(1, 15)], "k long, pos long")
    # PySpark cannot collect() interval-typed rows — select around it;
    # the point is that the JOIN plans and runs
    out = pit_join(facts, hist, "k", "pos").select("k", "pos", "v").collect()
    assert len(out) == 1 and out[0]["v"] == "a"


def test_restart_intervals_roundtrip_all_frame_types():
    """DRI/RSTn support (the camera-encoder shape): restarts byte-align
    the stream, reset DC predictors (and EOB runs in progressive
    scans), and must not change a single pixel vs the no-restart
    encoding — for baseline gray, progressive gray, and progressive
    4:2:0 color, across intervals that land mid-byte and at block
    boundaries (including ri=1, a restart after every MCU)."""
    from tada_spark.functions.jpeg import (
        encode_jpeg_color420, encode_jpeg_gray, encode_jpeg_progressive,
        jpeg_decode)

    rng = np.random.default_rng(906)
    for _ in range(5):
        img = _rand_gray(rng, 9, 50)
        ref = jpeg_decode(encode_jpeg_gray(img))
        for ri in (1, 2, 3, 7):
            assert np.array_equal(
                jpeg_decode(encode_jpeg_gray(img, restart_interval=ri)), ref)
            assert np.array_equal(
                jpeg_decode(encode_jpeg_progressive(img, restart_interval=ri)), ref)
    y = rng.integers(0, 256, size=(30, 41), dtype=np.uint8)
    cb = rng.integers(0, 256, size=(15, 21), dtype=np.uint8)
    cr = rng.integers(0, 256, size=(15, 21), dtype=np.uint8)
    ref = jpeg_decode(encode_jpeg_color420(y, cb, cr))
    assert np.array_equal(
        jpeg_decode(encode_jpeg_progressive(y, cb, cr, restart_interval=2)), ref)


def test_restart_marker_sequence_is_verified():
    """A stream whose RSTn sequence number is wrong must refuse — a
    decoder that ignores the 0-7 cycle silently accepts dropped or
    duplicated restart segments."""
    import pytest

    from tada_spark.functions.jpeg import encode_jpeg_gray, jpeg_decode

    img = np.arange(32 * 32, dtype=np.uint8).reshape(32, 32)
    enc = bytearray(encode_jpeg_gray(img, restart_interval=2))
    i = enc.find(b"\xff\xd0")  # first RST0 -> corrupt to RST3
    assert i > 0
    enc[i + 1] = 0xD3
    with pytest.raises(ValueError, match="expected restart marker RST0"):
        jpeg_decode(bytes(enc))


def test_color422_all_paths_agree():
    """4:2:2 (the video/scanner chroma layout): baseline, progressive,
    and restart-interval encodings must decode identically, and flat
    planes must match the T.871 conversion computed independently in
    numpy (exactly invertible planes make the comparison exact)."""
    from tada_spark.functions.jpeg import (
        encode_jpeg_color422, encode_jpeg_progressive, jpeg_decode)

    rng = np.random.default_rng(907)
    for _ in range(5):
        y = _rand_gray(rng, 5, 40)
        h, w = y.shape
        cb = rng.integers(0, 256, size=(h, (w + 1) // 2), dtype=np.uint8)
        cr = rng.integers(0, 256, size=(h, (w + 1) // 2), dtype=np.uint8)
        base = jpeg_decode(encode_jpeg_color422(y, cb, cr))
        assert base.shape == (h, w, 3)
        assert np.array_equal(
            jpeg_decode(encode_jpeg_progressive(y, cb, cr, sampling=(2, 1))), base)
        assert np.array_equal(
            jpeg_decode(encode_jpeg_color422(y, cb, cr, restart_interval=3)), base)
    yv, cbv, crv = 70.0, 160.0, 90.0
    out = jpeg_decode(encode_jpeg_color422(
        np.full((16, 24), 70, dtype=np.uint8),
        np.full((16, 12), 160, dtype=np.uint8),
        np.full((16, 12), 90, dtype=np.uint8)))
    exp = np.clip(np.round(np.array([
        yv + 1.402 * (crv - 128.0),
        yv - 0.344136 * (cbv - 128.0) - 0.714136 * (crv - 128.0),
        yv + 1.772 * (cbv - 128.0)])), 0, 255)
    assert np.array_equal(out[0, 0], exp)
    assert (out == out[0, 0]).all()


def test_color_sampling_contract_errors():
    import pytest

    from tada_spark.functions.jpeg import (
        encode_jpeg_color422, encode_jpeg_progressive)

    y = np.full((16, 16), 50, dtype=np.uint8)
    wrong = np.full((8, 8), 128, dtype=np.uint8)  # 4:2:0-shaped chroma
    with pytest.raises(ValueError, match="chroma planes must be"):
        encode_jpeg_color422(y, wrong, wrong)
    with pytest.raises(ValueError, match="sampling factors"):
        encode_jpeg_progressive(y, wrong, wrong, sampling=(3, 1))


def test_color440_roundtrips_and_fill_bytes_before_restart():
    """4:4:0 ((1,2) luma — vertical-only subsample) is in the accepted
    family and must round-trip baseline == progressive; and a
    spec-legal 0xFF fill byte before an RSTn marker (T.81 B.1.1.2)
    must decode, not refuse."""
    from tada_spark.functions.jpeg import (
        _encode_color_baseline, QTABLE_FLAT8, encode_jpeg_gray,
        encode_jpeg_progressive, jpeg_decode)

    rng = np.random.default_rng(908)
    for _ in range(4):
        y = _rand_gray(rng, 5, 40)
        h, w = y.shape
        cb = rng.integers(0, 256, size=((h + 1) // 2, w), dtype=np.uint8)
        cr = rng.integers(0, 256, size=((h + 1) // 2, w), dtype=np.uint8)
        base = jpeg_decode(_encode_color_baseline(
            y, cb, cr, (1, 2), QTABLE_FLAT8, QTABLE_FLAT8))
        assert base.shape == (h, w, 3)
        assert np.array_equal(
            jpeg_decode(encode_jpeg_progressive(y, cb, cr, sampling=(1, 2))), base)
    img = np.arange(32 * 32, dtype=np.uint8).reshape(32, 32)
    ref = jpeg_decode(encode_jpeg_gray(img))
    enc = bytearray(encode_jpeg_gray(img, restart_interval=2))
    i = enc.find(b"\xff\xd0")
    enc[i:i] = b"\xff"  # fill byte before RST0
    assert np.array_equal(jpeg_decode(bytes(enc)), ref)


def test_encoders_reject_bad_restart_interval():
    import pytest

    from tada_spark.functions.jpeg import (
        encode_jpeg_color422, encode_jpeg_gray, encode_jpeg_progressive)

    img = np.full((8, 8), 50, dtype=np.uint8)
    c = np.full((8, 4), 128, dtype=np.uint8)
    for bad in (-1, 70000):
        with pytest.raises(ValueError, match="restart_interval"):
            encode_jpeg_gray(img, restart_interval=bad)
        with pytest.raises(ValueError, match="restart_interval"):
            encode_jpeg_progressive(img, restart_interval=bad)
        with pytest.raises(ValueError, match="restart_interval"):
            encode_jpeg_color422(img, c, c, restart_interval=bad)


# ---------------------------------------------------------------------------
# PNG round-9 extensions: Adam7 interlace + palette (PLTE) color type.
# ---------------------------------------------------------------------------

def _png_chunk(ctype, data):
    import struct
    import zlib

    c = ctype + data
    return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))


def _make_png(w, h, color, interlace, idat, extra=b""):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, interlace)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + extra +
            _png_chunk(b"IDAT", zlib.compress(idat)) + _png_chunk(b"IEND", b""))


_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _interlaced_idat(img):
    out = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if pw == 0 or ph == 0:
            continue  # empty pass (small images)
        for y in range(ph):
            out += b"\x00" + sub[y].tobytes()
    return bytes(out)


def test_png_adam7_interlace_decodes():
    """Adam7 streams carry seven independently-filtered sub-images;
    the decoder must de-filter each and interleave back — checked
    against the known pixels for gray and RGB across sizes that leave
    some passes empty (1x1 has six empty passes)."""
    from tada_spark.functions.multimodal import png_decode_pixels

    rng = np.random.default_rng(909)
    for h, w in ((1, 1), (3, 5), (8, 8), (17, 23), (31, 9)):
        img = rng.integers(0, 256, size=(h, w, 1), dtype=np.uint8)
        got = png_decode_pixels(_make_png(w, h, 0, 1, _interlaced_idat(img)))
        assert np.array_equal(got, img.astype(np.int64)), (h, w)
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got = png_decode_pixels(_make_png(w, h, 2, 1, _interlaced_idat(rgb)))
        assert np.array_equal(got, rgb.astype(np.int64)), (h, w)


def test_png_palette_decodes_and_guards():
    """Color type 3 maps indices through the PLTE to RGB — including
    under Adam7; a missing PLTE and an out-of-range index refuse."""
    import pytest

    from tada_spark.functions.multimodal import png_decode_pixels

    rng = np.random.default_rng(910)
    pal = rng.integers(0, 256, size=(17, 3), dtype=np.uint8)
    idx = rng.integers(0, 17, size=(9, 13, 1), dtype=np.uint8)
    plain = b"".join(b"\x00" + idx[y].tobytes() for y in range(9))
    want = pal[idx[:, :, 0]].astype(np.int64)
    plte = _png_chunk(b"PLTE", pal.tobytes())
    assert np.array_equal(
        png_decode_pixels(_make_png(13, 9, 3, 0, plain, extra=plte)), want)
    assert np.array_equal(
        png_decode_pixels(_make_png(13, 9, 3, 1, _interlaced_idat(idx), extra=plte)), want)
    with pytest.raises(ValueError, match="without PLTE"):
        png_decode_pixels(_make_png(13, 9, 3, 0, plain))
    short = _png_chunk(b"PLTE", pal[:5].tobytes())
    with pytest.raises(ValueError, match="palette index"):
        png_decode_pixels(_make_png(13, 9, 3, 0, plain, extra=short))
