"""Multimodal binary plumbing: byte features vs numpy, frame explosion
row counts, decode stub contract."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from log_analysis_bigdata_spark.multimodal.assets import (
    asset_table,
    byte_stats,
    decode_image_stub,
    frame_sample,
)

from .conftest import SF_SMOKE


def test_byte_stats_match_numpy(spark):
    assets = asset_table(spark, SF_SMOKE).limit(20)
    raw = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    got = {r["asset_id"]: r for r in byte_stats(assets).collect()}
    assert set(got) == set(raw)
    for aid, payload in raw.items():
        a = np.frombuffer(payload, dtype=np.uint8)
        r = got[aid]
        assert r["n_bytes"] == a.size
        assert abs(r["mean_byte"] - float(a.mean())) < 1e-9
        assert r["max_byte"] == int(a.max())
        assert r["n_distinct_bytes"] == int(np.unique(a).size)


def test_frame_sample_explosion(spark):
    assets = asset_table(spark, SF_SMOKE)
    stride = 64
    frames = frame_sample(assets, stride=stride)
    videos = {
        r["asset_id"]: r["n_bytes"]
        for r in assets.filter(F.col("media_type") == "video").collect()
    }
    per_asset = {
        r["asset_id"]: (r["n"], r["total"])
        for r in frames.groupBy("asset_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("frame_len").alias("total"))
        .collect()
    }
    assert set(per_asset) == {a for a, n in videos.items() if n > 0}
    for aid, (n_frames, total) in per_asset.items():
        n = videos[aid]
        assert n_frames == -(-n // stride)  # ceil
        assert total == n  # slices partition the payload exactly


def test_frame_bytes_roundtrip(spark):
    assets = asset_table(spark, SF_SMOKE).limit(5)
    src = {r["asset_id"]: bytes(r["payload"])
           for r in assets.filter(F.col("media_type") == "video").collect()}
    rows = frame_sample(assets, stride=100).collect()
    rebuilt: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["asset_id"], r["frame_idx"])):
        rebuilt.setdefault(r["asset_id"], []).append(bytes(r["frame_bytes"]))
    for aid, chunks in rebuilt.items():
        assert b"".join(chunks) == src[aid]


def test_decode_stub_raises_without_fake(spark):
    assets = asset_table(spark, SF_SMOKE)
    with pytest.raises(NotImplementedError):
        decode_image_stub(assets)


def test_decode_stub_fake_contract(spark):
    assets = asset_table(spark, SF_SMOKE).limit(10)
    out = decode_image_stub(assets, fake=True)
    assert [f.name for f in out.schema.fields] == [
        "asset_id", "width", "height", "channels", "mean_pixel",
    ]
    rows = out.collect()
    n_images = assets.filter(F.col("media_type") == "image").count()
    assert len(rows) == n_images
    for r in rows:
        assert r["channels"] in (0, 1)


def test_decode_ppm_images_real_decode(spark):
    """The REAL decode path (no codec library): deterministic P6 PPM
    payloads — gradient rasters with known exact means, a header comment,
    multi-digit dims — decode through the Arrow mapInPandas operator to
    exact (width, height, channels, mean_pixel)."""
    import numpy as np

    from log_analysis_bigdata_spark.multimodal.assets import (
        _parse_ppm,
        decode_ppm_images,
    )

    def ppm(w, h, comment=False):
        raster = (np.arange(w * h * 3, dtype=np.int64) % 251).astype(np.uint8)
        head = b"P6\n" + (b"# synthetic\n" if comment else b"")
        head += f"{w} {h}\n255\n".encode()
        return head + raster.tobytes(), float(raster.mean())

    payloads = [ppm(4, 3), ppm(17, 9, comment=True), ppm(128, 2)]
    # pure-python parser agrees with the construction
    for buf, mean in payloads:
        w, h, c, m = _parse_ppm(buf)
        assert c == 3 and m == mean

    df = spark.createDataFrame(
        [(i, bytearray(buf)) for i, (buf, _) in enumerate(payloads)],
        "asset_id long, payload binary",
    )
    got = {r["asset_id"]: r for r in decode_ppm_images(df).collect()}
    assert (got[0]["width"], got[0]["height"]) == (4, 3)
    assert (got[1]["width"], got[1]["height"]) == (17, 9)
    assert (got[2]["width"], got[2]["height"]) == (128, 2)
    for i, (_, mean) in enumerate(payloads):
        assert got[i]["channels"] == 3
        assert got[i]["mean_pixel"] == mean  # exact — uint8 mean is finite

    # malformed payloads fail loudly, not silently
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _parse_ppm(b"P5\n1 1\n255\n\x00")  # P5 is not P6
    with _pytest.raises(ValueError):
        _parse_ppm(b"P6\n4 4\n255\n\x00\x00")  # truncated raster
    with _pytest.raises(ValueError):
        # 16-bit maxval (2 bytes/sample) must fail loudly, not decode
        # the first half of the raster as garbage uint8 stats
        _parse_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)


def test_ppm_pixel_stats_hand_computed(spark):
    """Pin the decode→NN-resize→stats math on one hand-checkable image:
    2×2 RGB with known bytes; NN resize to 2×2 is identity, so channel
    means are directly computable."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        ppm_pixel_stats,
    )

    # pixels (row-major, RGB): (0,1,2) (3,4,5) / (6,7,8) (9,10,11)
    raster = bytes(range(12))
    buf = b"P6\n2 2\n255\n" + raster
    df = spark.createDataFrame([(1, buf)], ["asset_id", "payload"])
    row = ppm_pixel_stats(df).collect()[0]
    assert (row["width"], row["height"]) == (2, 2)
    # full mean = mean(0..11) = 5.5 -> 55000 micro-units
    assert row["mean_pixel_e4"] == 55_000
    # channel sums: R 0+3+6+9=18, G 22, B 26; mean over 4 px
    assert row["r_mean_e4"] == 10_000 * 18 // 4
    assert row["g_mean_e4"] == 10_000 * 22 // 4
    assert row["b_mean_e4"] == 10_000 * 26 // 4


def test_synth_ppm_roundtrip_matches_formula(spark):
    """synth_ppm_assets payloads must decode (via the real parser) to
    exactly the (doc_id*7 + i) % 256 raster the oracle assumes."""
    import numpy as np

    from log_analysis_bigdata_spark.multimodal.assets import (
        _parse_ppm,
        synth_ppm_assets,
    )

    docs = spark.createDataFrame([(7,), (12,)], ["doc_id"])
    for r in synth_ppm_assets(docs).collect():
        d = r["asset_id"]
        buf = bytes(r["payload"])
        w, h, c, _m = _parse_ppm(buf)
        assert (w, h, c) == (4 + d % 5, 3 + d % 4, 3)
        got = np.frombuffer(buf[-w * h * 3 :], dtype=np.uint8)
        want = (d * 7 + np.arange(w * h * 3)) % 256
        assert (got == want).all()


def test_ppm_pixel_stats_trailing_bytes_not_shifted(spark):
    """A valid P6 payload with trailing bytes (parser-tolerated) must
    decode at the header's raster offset, not via suffix arithmetic —
    the code-review r7 regression case."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        ppm_pixel_stats,
    )

    raster = bytes(range(12))
    clean = b"P6\n2 2\n255\n" + raster
    padded = clean + b"\n\n\n"  # 3 trailing bytes
    df = spark.createDataFrame(
        [(1, clean), (2, padded)], ["asset_id", "payload"]
    )
    rows = {r["asset_id"]: r for r in ppm_pixel_stats(df).collect()}
    for c in ("mean_pixel_e4", "r_mean_e4", "g_mean_e4", "b_mean_e4"):
        assert rows[1][c] == rows[2][c]
    assert rows[2]["mean_pixel_e4"] == 55_000


def test_pixel_stats_agree_across_containers(spark):
    """One random palette image serialized as PPM, BMP (both row orders),
    PNG (each of the five filters on every row) and GIF (interlaced and
    not): all four *_pixel_stats decoders return the same row, and it
    equals a numpy replica of the full-image mean plus the 2x2
    nearest-neighbour channel means the oracles hard-code."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_bmp,
        _build_gif,
        _build_png,
        _gif_palette,
        bmp_pixel_stats,
        gif_pixel_stats,
        png_pixel_stats,
        ppm_pixel_stats,
    )

    h, w = 11, 6  # BMP rows of 18 bytes pad to 20
    idx = np.random.default_rng(9).integers(0, 256, (h, w), dtype=np.uint8)
    px = _gif_palette()[idx]
    payloads = {
        ppm_pixel_stats: [b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()],
        bmp_pixel_stats: [_build_bmp(w, h, px, top_down=t) for t in (0, 1)],
        png_pixel_stats: [_build_png(w, h, px, [f] * h) for f in range(5)],
        gif_pixel_stats: [_build_gif(w, h, idx, interlaced=i) for i in (0, 1)],
    }
    full = px.astype(np.int64)
    nn = [full[(y * h) // 2, (x * w) // 2] for y in range(2) for x in range(2)]
    want = (
        w,
        h,
        10_000 * int(full.sum()) // (w * h * 3),
        *(10_000 * int(sum(p[c] for p in nn)) // 4 for c in range(3)),
    )
    cols = ("width", "height", "mean_pixel_e4", "r_mean_e4", "g_mean_e4",
            "b_mean_e4")
    for op, bufs in payloads.items():
        df = spark.createDataFrame(list(enumerate(bufs)), ["asset_id", "payload"])
        rows = op(df).collect()
        assert len(rows) == len(bufs)
        for r in rows:
            assert tuple(r[c] for c in cols) == want, (op.__name__, r)


def test_bmp_build_parse_roundtrip_both_row_orders():
    """_build_bmp -> _parse_bmp must be the identity on the logical
    top-down RGB image for BOTH storage orders, across every padding
    case (widths 5..8 -> pad 1/2/3/0)."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_bmp,
        _parse_bmp,
    )

    rng = np.random.default_rng(7)
    for w in (5, 6, 7, 8):
        for top_down in (False, True):
            px = rng.integers(0, 256, size=(3, w, 3), dtype=np.uint8)
            buf = _build_bmp(w, 3, px, top_down=top_down)
            pw, ph, got = _parse_bmp(buf)
            assert (pw, ph) == (w, 3)
            assert np.array_equal(got, px), (w, top_down)


def test_bmp_parse_rejects_garbage():
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_bmp,
        _parse_bmp,
    )

    px = np.zeros((2, 5, 3), dtype=np.uint8)
    good = _build_bmp(5, 2, px, top_down=False)
    with pytest.raises(ValueError, match="not a BMP"):
        _parse_bmp(b"XX" + good[2:])
    with pytest.raises(ValueError, match="truncated"):
        _parse_bmp(good[:-4])
    import struct as _s

    bad_bpp = bytearray(good)
    _s.pack_into("<H", bad_bpp, 28, 8)  # claim 8-bit
    with pytest.raises(ValueError, match="only 24-bit"):
        _parse_bmp(bytes(bad_bpp))


def test_synth_bmp_decode_matches_formula(spark):
    """End-to-end through Spark: synth writes permuted file bytes
    (padded BGR, mixed row orders); the decoded image must equal the
    closed-form logical image sample (doc_id*11 + i) % 256."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _parse_bmp,
        synth_bmp_assets,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(12)
    rows = synth_bmp_assets(docs).collect()
    assert rows
    for r in rows:
        d = r["asset_id"]
        w, h = 5 + d % 4, 2 + d % 5
        pw, ph, px = _parse_bmp(bytes(r["payload"]))
        assert (pw, ph) == (w, h)
        want = (
            ((d * 11 + np.arange(w * h * 3, dtype=np.int64)) % 256)
            .astype(np.uint8)
            .reshape(h, w, 3)
        )
        assert np.array_equal(px, want), d


def test_gif_lzw_roundtrip_properties():
    """Full LZW compress/decompress roundtrip across the regimes that
    break naive implementations: repetitive streams (deep dictionary,
    KwKwK), incompressible streams (width growth 9->10->11->12),
    sub-256-color code sizes, and a stream long enough to overflow the
    4096-entry table and exercise the clear-code reset."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        GIF_MCS,
        _lzw_compress,
        _lzw_decompress,
    )

    rng = np.random.RandomState(7)
    for trial in range(24):
        n = int(rng.randint(1, 5000))
        if trial % 3 == 0:
            raw = rng.randint(0, 4, n).astype(np.uint8).tobytes()
        elif trial % 3 == 1:
            raw = rng.randint(0, 256, n).astype(np.uint8).tobytes()
        else:
            raw = (np.arange(n) % 7).astype(np.uint8).tobytes()
        assert _lzw_decompress(_lzw_compress(raw, GIF_MCS), GIF_MCS, n) == raw
    for mcs in (2, 4):
        raw = rng.randint(0, 1 << mcs, 2000).astype(np.uint8).tobytes()
        assert _lzw_decompress(_lzw_compress(raw, mcs), mcs, 2000) == raw
    # table overflow -> clear-reset branch (random AND repetitive)
    big = rng.randint(0, 256, 60000).astype(np.uint8).tobytes()
    assert _lzw_decompress(_lzw_compress(big, GIF_MCS), GIF_MCS, 60000) == big
    big2 = (np.arange(80000) % 3).astype(np.uint8).tobytes()
    assert _lzw_decompress(_lzw_compress(big2, GIF_MCS), GIF_MCS, 80000) == big2


def test_gif_build_parse_roundtrip_interlaced_and_not():
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_gif,
        _gif_palette,
        _parse_gif,
    )

    rng = np.random.RandomState(11)
    pal = _gif_palette().astype(np.int64)
    for trial in range(40):
        w, h = int(rng.randint(1, 40)), int(rng.randint(1, 30))
        idx = rng.randint(0, 256, (h, w)).astype(np.uint8)
        buf = _build_gif(w, h, idx, interlaced=trial % 2 == 0)
        w2, h2, px = _parse_gif(buf)
        assert (w2, h2) == (w, h)
        assert np.array_equal(px.astype(np.int64), pal[idx]), trial


def test_gif_parse_rejects_garbage():
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_gif,
        _parse_gif,
    )

    with pytest.raises(ValueError, match="not a GIF"):
        _parse_gif(b"GIF88a" + b"\x00" * 20)
    with pytest.raises(ValueError, match="not a GIF"):
        _parse_gif(b"BM" + b"\x00" * 60)
    ok = _build_gif(3, 2, np.zeros((2, 3), dtype=np.uint8), False)
    with pytest.raises(ValueError):  # truncated LZW sub-blocks
        _parse_gif(ok[:-6])


def test_synth_gif_decode_matches_formula(spark):
    """End-to-end through Spark: synth -> decode -> stats equals the
    numpy recomputation from the logical closed form (incl. the 20x15
    width-growth assets and the interlaced quarter)."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _gif_palette,
        gif_pixel_stats,
        synth_gif_assets,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(23)
    rows = gif_pixel_stats(synth_gif_assets(docs)).collect()
    assert len(rows) == 23
    pal = _gif_palette().astype(np.int64)
    for r in rows:
        d = r["asset_id"]
        w, h = (20, 15) if d % 5 == 0 else (4 + d % 5, 2 + d % 4)
        assert (r["width"], r["height"]) == (w, h)
        idx = ((d * 13 + np.arange(w * h)) % 256).reshape(h, w)
        px = pal[idx]
        assert r["mean_pixel_e4"] == int(10_000 * px.sum()) // (w * h * 3)
        ys, xs = (np.arange(2) * h) // 2, (np.arange(2) * w) // 2
        ch = px[np.ix_(ys, xs)].sum(axis=(0, 1))
        assert r["r_mean_e4"] == int(10_000 * ch[0]) // 4
        assert r["g_mean_e4"] == int(10_000 * ch[1]) // 4
        assert r["b_mean_e4"] == int(10_000 * ch[2]) // 4


def test_ppm_dhash_matches_formula_and_dup_classes(spark):
    """The dHash signature pass (round 12): decode the planted-dup
    fixture and check every signature against an independent numpy
    recomputation from the synth closed form — a decode offset,
    grayscale, NN-grid or bit-order bug fails here before the oracle.
    Also pins the two planted duplicate CLASSES at the signature level:
    re-encoded copies (doc%10==1) hash IDENTICALLY to their source
    (decode normalizes the file bytes), brightness-lifted copies
    (doc%10==6) stay within hamming 4 of theirs (the 5-band pigeonhole
    bound banding relies on)."""
    import numpy as np

    from log_analysis_bigdata_spark.multimodal.assets import (
        DHASH_COLS,
        DHASH_ROWS,
        ppm_dhash,
        synth_ppm_dup_assets,
    )

    def expect_sig(doc_id: int) -> int:
        if doc_id % 10 == 1:
            base, delta = doc_id - 1, 0
        elif doc_id % 10 == 6:
            base, delta = doc_id - 2, 4
        else:
            base, delta = doc_id, 0
        w, h = 4 + base % 5, 3 + base % 4
        i = np.arange(w * h * 3, dtype=np.int64)
        raster = (
            base * 7 + i * (1 + base % 37) + (i % 3) * (base % 29)
        ) % 256
        raster = np.minimum(raster + delta, 255)
        g = raster.reshape(h, w, 3).sum(axis=2) // 3
        ys = (np.arange(DHASH_ROWS) * h) // DHASH_ROWS
        xs = (np.arange(DHASH_COLS) * w) // DHASH_COLS
        grid = g[np.ix_(ys, xs)]
        bits = grid[:, 1:] > grid[:, :-1]
        weights = (
            1 << np.arange(DHASH_ROWS * (DHASH_COLS - 1), dtype=np.int64)
        ).reshape(DHASH_ROWS, DHASH_COLS - 1)
        return int((weights * bits).sum())

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(60)
    got = {
        r["doc_id"]: r["simhash"]
        for r in ppm_dhash(synth_ppm_dup_assets(docs)).collect()
    }
    assert len(got) == 60
    for d, s in got.items():
        assert s == expect_sig(d), d
    for d in got:
        if d % 10 == 1 and d - 1 in got:
            assert got[d] == got[d - 1], ("re-encode", d)
        if d % 10 == 6 and d - 2 in got:
            ham = bin(got[d] ^ got[d - 2]).count("1")
            assert ham <= 4, ("brightness", d, ham)


def test_image_near_dup_planted_recall(spark):
    """END-TO-END planted recall for the perceptual dedup query: every
    planted pair — re-encoded copy (d, d−1) for d%10==1 and
    brightness-lifted copy (d, d−2) for d%10==6 — must land in the SAME
    component. Recall is exactly 1.0 by construction (re-encodes are
    hamming 0; lifts measured <= 4 = IMG_MAX_HAMMING, and 5-band
    pigeonhole recall is exact at that bound), so this pins equality,
    not a floor. Also sanity-checks the component labels are canonical
    min-ids (label <= every member)."""
    from log_analysis_bigdata_spark.queries import all_queries

    rows = (
        all_queries()["image_near_dup_components"]
        .spark(spark, SF_SMOKE)
        .collect()
    )
    comp = {r["node"]: r["component"] for r in rows}
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    missed = []
    for d in range(n_docs):
        pairs = []
        if d % 10 == 1:
            pairs.append(d - 1)
        if d % 10 == 6:
            pairs.append(d - 2)
        for s in pairs:
            if s < 0:
                continue
            if d not in comp or s not in comp or comp[d] != comp[s]:
                missed.append((s, d))
    assert not missed, f"planted pairs not co-clustered: {missed[:10]}"
    for node, c in comp.items():
        assert c <= node


def test_wav_build_parse_roundtrip_all_variants():
    """The synthesizer and parser must agree for every parameter cell:
    mono/stereo x 8/16-bit x junk-chunk placements x odd/even data
    sizes. Doc ids 0..29 cover all residues mod 2/3/5/7 combinations
    that control the layout."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_wav,
        _parse_wav,
        _wav_params,
        _wav_samples,
    )

    for d in range(30):
        nch, rate, nf, bits = _wav_params(d)
        pnch, prate, pbits, vals = _parse_wav(_build_wav(d))
        assert (pnch, prate, pbits) == (nch, rate, bits), d
        assert len(vals) == nf * nch, d
        assert np.array_equal(vals, _wav_samples(d, nf * nch, bits)), d


def test_wav_parse_walks_junk_and_pad_chunks():
    """d=7 plants the odd-size JUNK after WAVE (pad byte), d=12 is
    8-bit (unsigned bias + d%5==2 mid-file JUNK); both must decode;
    data is never at a fixed offset."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_wav,
        _parse_wav,
    )

    buf7 = _build_wav(7)
    assert b"JUNK" in buf7 and buf7.index(b"JUNK") < buf7.index(b"fmt ")
    _parse_wav(buf7)
    buf12 = _build_wav(12)
    assert buf12.index(b"fmt ") < buf12.index(b"JUNK") < buf12.index(b"data")
    _parse_wav(buf12)


def test_wav_parse_rejects_garbage():
    import struct as _s

    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_wav,
        _parse_wav,
    )

    good = _build_wav(1)
    with pytest.raises(ValueError, match="not a RIFF"):
        _parse_wav(b"XXXX" + good[4:])
    bad_tag = bytearray(good)
    off = good.index(b"fmt ") + 8
    _s.pack_into("<H", bad_tag, off, 85)  # claim MP3 (format tag 0x55)
    with pytest.raises(ValueError, match="only uncompressed"):
        _parse_wav(bytes(bad_tag))
    # truncate inside the data chunk raster
    with pytest.raises(ValueError, match="truncated data"):
        _parse_wav(good[: good.index(b"data") + 10])


def test_synth_wav_stats_match_formula(spark):
    """End-to-end through Spark: the decoded integer stats must equal
    a direct numpy recomputation of the closed form."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _wav_params,
        _wav_samples,
        synth_wav_assets,
        wav_pcm_stats,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(14)
    rows = wav_pcm_stats(synth_wav_assets(docs)).collect()
    assert rows
    for r in rows:
        d = r["asset_id"]
        nch, rate, nf, bits = _wav_params(d)
        vals = _wav_samples(d, nf * nch, bits)
        ch = np.arange(len(vals)) % nch
        assert r["n_channels"] == nch and r["sample_rate"] == rate
        assert r["n_frames"] == nf
        assert r["duration_ms"] == nf * 1000 // rate
        assert r["sum_val"] == int(vals.sum())
        assert r["sum_sq"] == int((vals * vals).sum())
        assert r["peak_abs"] == int(np.abs(vals).max())
        assert r["ch0_sum"] == int(vals[ch == 0].sum())
        assert r["ch1_sum"] == int(vals[ch == 1].sum())


def test_avi_build_parse_roundtrip_all_variants():
    """Synthesizer/parser agreement across every layout residue
    (w/h/nf mod cycles, all three fps values): geometry, fps, and
    every decoded frame's pixels must equal the closed form."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _avi_frame_px,
        _avi_params,
        _build_avi,
        _parse_avi,
    )

    for d in range(36):
        w, h, nf, fps = _avi_params(d)
        pw, ph, pnf, pfps, frames = _parse_avi(_build_avi(d))
        assert (pw, ph, pnf, pfps) == (w, h, nf, fps), d
        assert len(frames) == nf, d
        for f, fr in enumerate(frames):
            assert np.array_equal(fr, _avi_frame_px(d, f, w, h)), (d, f)


def test_avi_parse_rejects_garbage():
    import struct as _s

    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_avi,
        _parse_avi,
    )

    good = _build_avi(1)
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        _parse_avi(b"XXXX" + good[4:])
    # claim a compressed stream: rename the first 00db chunk to 00dc
    bad = bytearray(good)
    off = good.index(b"00db")
    bad[off : off + 4] = b"00dc"
    with pytest.raises(ValueError, match="only uncompressed"):
        _parse_avi(bytes(bad))
    # corrupt avih's frame count -> loud mismatch, not silent truncation
    bad2 = bytearray(good)
    avih_at = good.index(b"avih") + 8
    _s.pack_into("<I", bad2, avih_at + 16, 99)
    with pytest.raises(ValueError, match="frame count mismatch"):
        _parse_avi(bytes(bad2))


def test_parsers_fail_loudly_on_truncated_and_hostile_sizes():
    """ADVICE r15: a declared chunk size that lies past the buffer must
    raise the module's documented ValueError, never a struct.error or a
    numpy buffer/reshape error — on WAV's fmt chunk, AVI's avih header,
    AVI's DIB frame, and a hostile nested-LIST size."""
    import struct as _s

    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_avi,
        _build_wav,
        _parse_avi,
        _parse_wav,
    )

    wav = _build_wav(3)
    # cut mid-fmt: declared size 16, buffer ends after 4 payload bytes
    cut = wav.index(b"fmt ") + 8 + 4
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_wav(wav[:cut] + b"")
    # RIFF size field still claims the full length — patch it down so
    # the walk believes the buffer, then hits the short fmt payload
    short = bytearray(wav[:cut])
    _s.pack_into("<I", short, 4, len(short) - 8 + 64)  # hostile RIFF size
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_wav(bytes(short))

    avi = _build_avi(2)
    # cut inside the avih payload
    cut = avi.index(b"avih") + 8 + 12
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_avi(avi[:cut])
    # hostile nested-LIST size: blow the movi LIST's declared size far
    # past the buffer; the clamped child walk must end at the real
    # buffer edge (frames all present -> still parses green)
    movi_at = avi.index(b"movi") - 8
    hostile = bytearray(avi)
    _s.pack_into("<I", hostile, movi_at + 4, len(avi) * 4)
    _parse_avi(bytes(hostile))
    # truncate inside the first DIB frame raster
    frame_at = avi.index(b"00db")
    with pytest.raises(ValueError, match="truncated"):
        _parse_avi(avi[: frame_at + 8 + 5])


def test_synth_avi_stats_match_formula(spark):
    """End-to-end through Spark: decoded frame stats equal a direct
    numpy recomputation of the closed form."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _avi_frame_px,
        _avi_params,
        avi_frame_stats,
        synth_avi_assets,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(12)
    rows = avi_frame_stats(synth_avi_assets(docs)).collect()
    assert rows
    for r in rows:
        d = r["asset_id"]
        w, h, nf, fps = _avi_params(d)
        sums = [int(_avi_frame_px(d, f, w, h).sum()) for f in range(nf)]
        assert (r["width"], r["height"], r["n_frames"], r["fps"]) == (
            w, h, nf, fps,
        )
        assert r["duration_ms"] == nf * 1000 // fps
        assert r["sum_px"] == sum(sums)
        assert r["first_frame_sum"] == sums[0]
        assert r["last_frame_sum"] == sums[-1]
        assert r["max_frame_sum"] == max(sums)


def test_png_build_parse_roundtrip_all_variants():
    """Synthesizer/parser agreement across every layout residue: all
    five filters (row cycle (d+y) % 5), multi-IDAT split (d%3==0),
    ancillary tEXt chunk (d%4==0). Decode is lossless — pixels must
    equal the closed form exactly."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_png,
        _parse_png,
    )

    for d in range(60):
        w, h = 4 + d % 5, 2 + d % 4
        px = (
            ((d * 17 + np.arange(w * h * 3, dtype=np.int64)) % 256)
            .astype(np.uint8)
            .reshape(h, w, 3)
        )
        pw, ph, out = _parse_png(
            _build_png(
                w, h, px,
                filters=[(d + y) % 5 for y in range(h)],
                n_idat=2 if d % 3 == 0 else 1,
                with_text=d % 4 == 0,
            )
        )
        assert (pw, ph) == (w, h), d
        assert np.array_equal(out, px.astype(np.int64)), d


def test_png_each_filter_reconstructs_on_random_image():
    """Each filter type alone, on a larger random image — the
    per-byte predictors (left offset = 3, average floor, Paeth
    tie-break) must invert exactly."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_png,
        _parse_png,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(19, 13, 3)).astype(np.uint8)
    for f in range(5):
        _, _, out = _parse_png(
            _build_png(13, 19, px, filters=[f] * 19, n_idat=3,
                       with_text=True)
        )
        assert np.array_equal(out, px.astype(np.int64)), f


def test_png_parse_rejects_garbage_and_truncation():
    import struct as _s
    import zlib as _z

    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_png,
        _parse_png,
    )

    px = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    good = _build_png(4, 3, px, filters=[0, 1, 2])
    with pytest.raises(ValueError, match="not a PNG"):
        _parse_png(b"XXXX" + good[4:])
    # flip one raster byte inside IDAT -> CRC must catch it
    bad = bytearray(good)
    at = good.index(b"IDAT") + 6
    bad[at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        _parse_png(bytes(bad))
    # unsupported color type (grayscale) must be loud
    gray = bytearray(good)
    ihdr_at = good.index(b"IHDR") + 4
    gray[ihdr_at + 9] = 0  # color type
    _s.pack_into(
        ">I", gray, ihdr_at + 13,
        _z.crc32(bytes(gray[ihdr_at - 4 : ihdr_at + 13])) & 0xFFFFFFFF,
    )
    with pytest.raises(ValueError, match="only 8-bit"):
        _parse_png(bytes(gray))
    # declared chunk length past the buffer
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_png(good[: len(good) - 6])
    # valid chunks but deflate stream cut short: re-chunk a truncated
    # IDAT so CRCs pass, then the inflate must fail loudly
    from log_analysis_bigdata_spark.multimodal.assets import _png_chunk, _PNG_SIG
    idat_at = good.index(b"IDAT")
    ln = _s.unpack_from(">I", good, idat_at - 4)[0]
    comp = good[idat_at + 4 : idat_at + 4 + ln]
    ihdr_ln = _s.unpack_from(">I", good, 8)[0]
    ihdr_chunk = good[8 : 8 + 8 + ihdr_ln + 4]
    rebuilt = (
        _PNG_SIG + ihdr_chunk + _png_chunk(b"IDAT", comp[:3])
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="corrupt IDAT|truncated PNG raster"):
        _parse_png(rebuilt)


def test_synth_png_stats_match_formula(spark):
    """End-to-end through Spark: decoded PNG stats equal a direct
    numpy recomputation of the closed form."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        png_pixel_stats,
        synth_png_assets,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(15)
    rows = png_pixel_stats(synth_png_assets(docs)).collect()
    assert rows
    for r in rows:
        d = r["asset_id"]
        w, h = 4 + d % 5, 2 + d % 4
        px = ((d * 17 + np.arange(w * h * 3, dtype=np.int64)) % 256).reshape(
            h, w, 3
        )
        ys, xs = (np.arange(2) * h) // 2, (np.arange(2) * w) // 2
        ch = px[np.ix_(ys, xs)].sum(axis=(0, 1))
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_pixel_e4"] == int(10_000 * px.sum()) // (w * h * 3)
        assert r["r_mean_e4"] == int(10_000 * ch[0]) // 4
        assert r["g_mean_e4"] == int(10_000 * ch[1]) // 4
        assert r["b_mean_e4"] == int(10_000 * ch[2]) // 4


def _jpeg_rhalf(x: int) -> int:
    return (abs(x) + 1) // 2 * (1 if x >= 0 else -1)


def test_jpeg_build_parse_roundtrip_closed_form():
    """The synthesizer emits spec-valid baseline JPEGs whose constant
    blocks make lossy quantization exactly computable: decoded block
    value = clip255(2*round_half_away((v-128)/2) + 128). The decoder
    must reproduce that through the FULL path (Huffman -> DC diffs ->
    dequant -> IDCT)."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_jpeg_gray,
        _parse_jpeg_gray,
    )

    for d in range(60):
        w, h = 8 * (1 + d % 3), 8 * (1 + d % 2)
        nb = (w // 8) * (h // 8)
        vals = (
            ((d * 19 + 7 * np.arange(nb, dtype=np.int64)) % 256)
            .astype(np.uint8)
            .reshape(h // 8, w // 8)
        )
        pw, ph, px = _parse_jpeg_gray(_build_jpeg_gray(w, h, vals))
        assert (pw, ph) == (w, h), d
        for by in range(h // 8):
            for bx in range(w // 8):
                v = int(vals[by, bx])
                expect = min(255, max(0, 2 * _jpeg_rhalf(v - 128) + 128))
                blk = px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == expect).all(), (d, by, bx)


def test_jpeg_ac_zrl_and_negative_amplitude_entropy_path():
    """The general AC path, validated against an INDEPENDENT double-loop
    IDCT: hand-assemble a one-block scan carrying a positive AC, a
    run-skipped AC, a ZRL (16 zeros), and a negative amplitude; the
    decoder must place each coefficient at the right zigzag index and
    reconstruct the block to the reference within rounding."""
    import struct as _s

    from log_analysis_bigdata_spark.multimodal.assets import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_QTAB,
        _JPEG_ZIGZAG,
        _JpegBitWriter,
        _build_jpeg_gray,
        _jpeg_cat,
        _jpeg_huff_codes,
        _parse_jpeg_gray,
    )

    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    # zigzag-indexed coefficients: DC=5, zz1=+3, (skip 2) zz4=-7,
    # ZRL then zz21=+1
    bw = _JpegBitWriter()

    def put_sym(codes, sym):
        c, ln = codes[sym]
        bw.put(c, ln)

    def put_amp(v):
        cat = _jpeg_cat(v)
        amp = v if v > 0 else v + (1 << cat) - 1
        bw.put(amp, cat)

    put_sym(dc_codes, _jpeg_cat(5)); put_amp(5)
    put_sym(ac_codes, (0 << 4) | _jpeg_cat(3)); put_amp(3)
    put_sym(ac_codes, (2 << 4) | _jpeg_cat(-7)); put_amp(-7)
    put_sym(ac_codes, 0xF0)  # ZRL
    put_sym(ac_codes, (0 << 4) | _jpeg_cat(1)); put_amp(1)
    put_sym(ac_codes, 0x00)  # EOB
    scan = bw.done()

    # reuse the builder's header segments, swap the scan
    base = _build_jpeg_gray(8, 8, np.array([[0]], dtype=np.uint8))
    sos_at = base.index(b"\xff\xda")
    sos_ln = _s.unpack_from(">H", base, sos_at + 2)[0]
    hdr = base[: sos_at + 2 + sos_ln]
    buf = hdr + scan + b"\xff\xd9"

    w, h, px = _parse_jpeg_gray(buf)
    assert (w, h) == (8, 8)

    # independent reference: place coefficients, dequant, loop IDCT
    zz = np.zeros(64)
    zz[0], zz[1], zz[4], zz[21] = 5, 3, -7, 1
    nat = np.zeros(64)
    nat[_JPEG_ZIGZAG] = zz
    S = nat.reshape(8, 8) * _JPEG_QTAB
    ref = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    acc += (
                        cu * cv * S[u, v]
                        * np.cos((2 * y + 1) * u * np.pi / 16)
                        * np.cos((2 * x + 1) * v * np.pi / 16)
                    )
            ref[y, x] = acc / 4
    expect = np.clip(np.round(ref) + 128, 0, 255).astype(np.int64)
    assert np.array_equal(px, expect)


def test_jpeg_parse_rejects_garbage():
    import struct as _s

    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_jpeg_gray,
        _parse_jpeg_gray,
    )

    good = _build_jpeg_gray(16, 8, np.array([[10, 200]], dtype=np.uint8))
    with pytest.raises(ValueError, match="not a JPEG"):
        _parse_jpeg_gray(b"XX" + good[2:])
    # progressive (SOF2) must be loud, not misdecoded
    prog = bytearray(good)
    prog[good.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        _parse_jpeg_gray(bytes(prog))
    # subsampled component spec
    sub = bytearray(good)
    sof_at = good.index(b"\xff\xc0")
    sub[sof_at + 4 + 7] = 0x22
    with pytest.raises(ValueError, match="subsampled"):
        _parse_jpeg_gray(bytes(sub))
    # declared segment length past the buffer
    cut = bytearray(good)
    _s.pack_into(">H", cut, good.index(b"\xff\xdb") + 2, 9999)
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_jpeg_gray(bytes(cut))
    # missing EOI (cut entropy stream)
    with pytest.raises(ValueError, match="truncated"):
        _parse_jpeg_gray(good[:-2])


def test_synth_jpeg_stats_match_formula(spark):
    """End-to-end through Spark: decoded JPEG stats equal the integer
    closed form the oracle replays."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        jpeg_pixel_stats,
        synth_jpeg_assets,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(14)
    rows = jpeg_pixel_stats(synth_jpeg_assets(docs)).collect()
    assert rows
    for r in rows:
        d = r["asset_id"]
        w, h = 8 * (1 + d % 3), 8 * (1 + d % 2)
        nb = (w // 8) * (h // 8)
        vs = (d * 19 + 7 * np.arange(nb)) % 256
        dec = np.array(
            [min(255, max(0, 2 * _jpeg_rhalf(int(v) - 128) + 128))
             for v in vs]
        )
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_px"] == int(dec.sum()) * 64
        assert r["min_px"] == int(dec.min())
        assert r["max_px"] == int(dec.max())
        assert r["first_block_px"] == int(dec[0])
        assert r["last_block_px"] == int(dec[-1])


def test_jpeg_color_roundtrip_closed_form():
    """r17 (VERDICT r16 task 3): the 4:2:0 color synthesizer emits
    spec-valid 3-component baseline JPEGs; the generalized parser must
    reproduce the per-channel closed form through the full path —
    per-component quant/Huffman selection, MCU-interleaved entropy
    order with three DC chains, chroma box-upsample, floor(x+0.5)
    YCbCr->RGB."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_jpeg_color,
        _parse_jpeg_color,
    )

    for d in range(24):
        mw, mh = 1 + d % 2, 1 + d % 3
        w, h = 16 * mw, 16 * mh
        yb = np.zeros((2 * mh, 2 * mw), dtype=np.uint8)
        cbb = np.zeros((mh, mw), dtype=np.uint8)
        crb = np.zeros((mh, mw), dtype=np.uint8)
        for myi in range(mh):
            for mxi in range(mw):
                m = myi * mw + mxi
                for v in range(2):
                    for hb in range(2):
                        yb[2 * myi + v, 2 * mxi + hb] = (
                            d * 19 + 7 * (4 * m + 2 * v + hb)
                        ) % 256
                cbb[myi, mxi] = (d * 31 + 11 * m) % 256
                crb[myi, mxi] = (d * 23 + 13 * m) % 256
        pw, ph, rgb = _parse_jpeg_color(_build_jpeg_color(w, h, yb, cbb, crb))
        assert (pw, ph) == (w, h), d

        def dec(v):
            return min(255, max(0, 2 * _jpeg_rhalf(int(v) - 128) + 128))

        yd = np.vectorize(dec)(yb)
        cbd = np.vectorize(dec)(cbb)
        crd = np.vectorize(dec)(crb)
        y = np.repeat(np.repeat(yd, 8, 0), 8, 1).astype(float)
        cb = np.repeat(np.repeat(cbd, 16, 0), 16, 1).astype(float)
        cr = np.repeat(np.repeat(crd, 16, 0), 16, 1).astype(float)
        exp = np.clip(
            np.stack(
                [
                    np.floor(y + 1.402 * (cr - 128.0) + 0.5),
                    np.floor(
                        y
                        - 0.344136 * (cb - 128.0)
                        - 0.714136 * (cr - 128.0)
                        + 0.5
                    ),
                    np.floor(y + 1.772 * (cb - 128.0) + 0.5),
                ],
                -1,
            ),
            0,
            255,
        ).astype(np.int64)
        assert np.array_equal(rgb, exp), d


def test_jpeg_color_general_ac_path_per_component():
    """Non-flat color blocks (general AC path, distinct per-component
    quant tables) against an independent per-channel reconstruction:
    re-entropy-code a one-MCU 4:2:0 scan where the FIRST Y block and
    the Cb block carry an AC coefficient each; every other block is
    flat. The chroma AC must dequantize with table 1 (18 at zz1) and
    the luma AC with table 0 (11 at zz1) — a table-selection swap
    changes both blocks."""
    import struct as _s

    from log_analysis_bigdata_spark.multimodal.assets import (
        _JPEG_AC1_BITS,
        _JPEG_AC1_VALS,
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC1_BITS,
        _JPEG_DC1_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_QTAB,
        _JPEG_ZIGZAG,
        _JpegBitWriter,
        _build_jpeg_color,
        _jpeg_cat,
        _jpeg_huff_codes,
        _jpeg_idct,
        _parse_jpeg_color,
    )

    dc0 = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac0 = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc1 = _jpeg_huff_codes(_JPEG_DC1_BITS, _JPEG_DC1_VALS)
    ac1 = _jpeg_huff_codes(_JPEG_AC1_BITS, _JPEG_AC1_VALS)

    bw = _JpegBitWriter()

    def put_sym(codes, sym):
        c, ln = codes[sym]
        bw.put(c, ln)

    def put_amp(v):
        cat = _jpeg_cat(v)
        amp = v if v > 0 else v + (1 << cat) - 1
        bw.put(amp, cat)

    # Y block 0: DC 4, AC zz1=+2; Y blocks 1-3: DC diff 0, EOB
    put_sym(dc0, _jpeg_cat(4)); put_amp(4)
    put_sym(ac0, (0 << 4) | _jpeg_cat(2)); put_amp(2)
    put_sym(ac0, 0x00)
    for _ in range(3):
        put_sym(dc0, 0)
        put_sym(ac0, 0x00)
    # Cb: DC 3, AC zz1=-2 ; Cr: DC 0, EOB
    put_sym(dc1, _jpeg_cat(3)); put_amp(3)
    put_sym(ac1, (0 << 4) | _jpeg_cat(-2)); put_amp(-2)
    put_sym(ac1, 0x00)
    put_sym(dc1, 0)
    put_sym(ac1, 0x00)
    scan = bw.done()

    flat = np.full((2, 2), 128, dtype=np.uint8)
    base = _build_jpeg_color(
        16, 16, flat, np.full((1, 1), 128, np.uint8),
        np.full((1, 1), 128, np.uint8),
    )
    sos_at = base.index(b"\xff\xda")
    sos_ln = _s.unpack_from(">H", base, sos_at + 2)[0]
    buf = base[: sos_at + 2 + sos_ln] + scan + b"\xff\xd9"

    w, h, rgb = _parse_jpeg_color(buf)
    assert (w, h) == (16, 16)

    cq = np.array(
        [[16, 18], [18, 21]], dtype=np.int64
    )  # chroma table corner: [0,0] overridden to 16, zz1 entries K.2

    def block(dc, ac1_coef, q00, q01):
        nat = np.zeros(64)
        nat[_JPEG_ZIGZAG[0]] = dc * q00
        nat[_JPEG_ZIGZAG[1]] = ac1_coef * q01
        return np.clip(
            np.round(_jpeg_idct(nat.reshape(8, 8))) + 128, 0, 255
        ).astype(np.int64)

    yb0 = block(4, 2, int(_JPEG_QTAB[0, 0]), int(_JPEG_QTAB[0, 1]))
    yflat = block(4, 0, int(_JPEG_QTAB[0, 0]), 0)  # same DC chain value
    cbb = block(3, -2, int(cq[0, 0]), 18)
    crb = block(0, 0, 16, 0)
    y = np.zeros((16, 16))
    y[:8, :8] = yb0
    y[:8, 8:] = yflat
    y[8:, :8] = yflat
    y[8:, 8:] = yflat
    cb = np.repeat(np.repeat(cbb, 2, 0), 2, 1).astype(float)
    cr = np.repeat(np.repeat(crb, 2, 0), 2, 1).astype(float)
    exp = np.clip(
        np.stack(
            [
                np.floor(y + 1.402 * (cr - 128.0) + 0.5),
                np.floor(
                    y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
                    + 0.5
                ),
                np.floor(y + 1.772 * (cb - 128.0) + 0.5),
            ],
            -1,
        ),
        0,
        255,
    ).astype(np.int64)
    assert np.array_equal(rgb, exp)


def test_jpeg_color_rejects_unsupported_layouts():
    """Fail-loudly matrix for the generalized parser (ADVICE r16: every
    short segment is a ValueError, never struct.error/IndexError)."""
    import struct as _s

    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_jpeg_color,
        _parse_jpeg_color,
        _parse_jpeg_gray,
    )

    flat = np.full((2, 2), 100, dtype=np.uint8)
    cflat = np.full((1, 1), 100, dtype=np.uint8)
    good = _build_jpeg_color(16, 16, flat, cflat, cflat)
    sof_at = good.index(b"\xff\xc0")

    # unsupported layout (chroma 2x1 under 2x2 luma): loud, not
    # misdecoded (4:2:2 itself is SUPPORTED as of r17 — see
    # test_jpeg_sampling_layouts_roundtrip_closed_form)
    sbad = bytearray(good)
    sbad[sof_at + 4 + 10] = 0x21  # Cb sampling byte
    with pytest.raises(ValueError, match="layouts supported"):
        _parse_jpeg_color(bytes(sbad))
    # gray wrapper refuses a color payload
    with pytest.raises(ValueError, match="single-component"):
        _parse_jpeg_gray(good)
    # truncated SOF payload (declared length shorter than 3 comps)
    cut_sof = bytearray(good)
    _s.pack_into(">H", cut_sof, sof_at + 2, 2 + 7)  # room for 0 comps
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_jpeg_color(bytes(cut_sof))
    # truncated DHT (bits table cut mid-way)
    dht_at = good.index(b"\xff\xc4")
    cut_dht = bytearray(good)
    _s.pack_into(">H", cut_dht, dht_at + 2, 2 + 10)
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_jpeg_color(bytes(cut_dht))
    # truncated SOS header (component selectors cut)
    sos_at = good.index(b"\xff\xda")
    cut_sos = bytearray(good)
    _s.pack_into(">H", cut_sos, sos_at + 2, 2 + 3)
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_jpeg_color(bytes(cut_sos))
    # restart intervals: loud
    dri = good[:2] + b"\xff\xdd\x00\x04\x00\x08" + good[2:]
    with pytest.raises(ValueError, match="restart"):
        _parse_jpeg_color(dri)


def test_synth_jpeg_color_stats_match_formula(spark):
    """End-to-end through Spark: decoded color-JPEG RGB stats equal the
    per-channel integer closed form the oracle replays."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        jpeg_color_stats,
        synth_jpeg_color_assets,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(12)
    rows = jpeg_color_stats(synth_jpeg_color_assets(docs)).collect()
    assert rows
    for r in rows:
        d = r["asset_id"]
        mw, mh = 1 + d % 2, 1 + d % 3
        n = 4 * mw * mh
        i = np.arange(n)
        dec = np.vectorize(
            lambda v: min(255, max(0, 2 * _jpeg_rhalf(int(v) - 128) + 128))
        )
        yd = dec((d * 19 + 7 * i) % 256).astype(float)
        cbd = dec((d * 31 + 11 * (i // 4)) % 256).astype(float)
        crd = dec((d * 23 + 13 * (i // 4)) % 256).astype(float)
        rr = np.clip(np.floor(yd + 1.402 * (crd - 128.0) + 0.5), 0, 255)
        gg = np.clip(
            np.floor(
                yd - 0.344136 * (cbd - 128.0) - 0.714136 * (crd - 128.0)
                + 0.5
            ),
            0,
            255,
        )
        bb = np.clip(np.floor(yd + 1.772 * (cbd - 128.0) + 0.5), 0, 255)
        assert (r["width"], r["height"]) == (16 * mw, 16 * mh)
        assert r["sum_r"] == int(rr.sum()) * 64
        assert r["sum_g"] == int(gg.sum()) * 64
        assert r["sum_b"] == int(bb.sum()) * 64
        assert r["min_r"] == int(rr.min())
        assert r["max_r"] == int(rr.max())
        assert (r["first_r"], r["first_g"], r["first_b"]) == (
            int(rr[0]), int(gg[0]), int(bb[0]),
        )
        assert (r["last_r"], r["last_g"], r["last_b"]) == (
            int(rr[n - 1]), int(gg[n - 1]), int(bb[n - 1]),
        )


def _wav_with_fmt(field: int, value: int) -> bytes:
    """_build_wav(1) with one fmt-chunk field (1 = channels, 2 = sample
    rate) overwritten."""
    import struct as _s

    from log_analysis_bigdata_spark.multimodal.assets import _build_wav

    buf = bytearray(_build_wav(1))
    at = buf.index(b"fmt ") + 8
    _s.pack_into("<H" if field == 1 else "<I", buf, at + 2 * field, value)
    return bytes(buf)


@pytest.mark.parametrize(
    "kind",
    ["ppm_0x0", "bmp_0x0", "gif_0x0", "wav_0_channels", "wav_0_rate"],
)
def test_degenerate_media_headers_raise_named(kind):
    """A zero-dimension P6/BMP/GIF raster or a 0-channel / 0 Hz WAV format
    must be a named ValueError at parse time, as a zero-dimension PNG
    is — not an IndexError or ZeroDivisionError from the stats code
    inside the Python worker."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_bmp,
        _build_gif,
        _parse_bmp,
        _parse_gif,
        _ppm_pixels,
        _rgb_stats,
        _wav_row,
    )

    row, payload = {
        "ppm_0x0": (lambda b: _rgb_stats(*_ppm_pixels(b)), b"P6\n0 0\n255\n"),
        "bmp_0x0": (
            lambda b: _rgb_stats(*_parse_bmp(b)),
            _build_bmp(0, 0, np.zeros((0, 0, 3), np.uint8), top_down=False),
        ),
        "gif_0x0": (
            lambda b: _rgb_stats(*_parse_gif(b)),
            _build_gif(0, 0, np.zeros((0, 0), np.uint8), interlaced=False),
        ),
        "wav_0_channels": (_wav_row, _wav_with_fmt(1, 0)),
        "wav_0_rate": (_wav_row, _wav_with_fmt(2, 0)),
    }[kind]
    with pytest.raises(ValueError, match="zero-dimension|degenerate PCM"):
        row(payload)


def test_png_rejects_bad_ihdr_and_zero_dims():
    """ADVICE r16: a 13-byte-rule violation or zero-dimension IHDR must
    be a ValueError (fail-loudly contract), never struct.error or a
    downstream ZeroDivisionError."""
    import struct as _s
    import zlib

    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_png,
        _parse_png,
    )

    px = np.arange(24, dtype=np.int64).reshape(2, 4, 3) % 256
    good = _build_png(4, 2, px, [0, 0], 1)

    def rechunk(ctype, data):
        return (
            _s.pack(">I", len(data))
            + ctype
            + data
            + _s.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr_at = good.index(b"IHDR") - 4
    ihdr_data = good[ihdr_at + 8 : ihdr_at + 8 + 13]
    rest = good[ihdr_at + 8 + 13 + 4 :]

    # short IHDR payload with a VALID CRC
    bad_short = good[:ihdr_at] + rechunk(b"IHDR", ihdr_data[:12]) + rest
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_png(bad_short)
    # zero width, valid CRC
    zw = bytearray(ihdr_data)
    _s.pack_into(">I", zw, 0, 0)
    bad_zw = good[:ihdr_at] + rechunk(b"IHDR", bytes(zw)) + rest
    with pytest.raises(ValueError, match="zero-dimension"):
        _parse_png(bad_zw)
    # zero height, valid CRC
    zh = bytearray(ihdr_data)
    _s.pack_into(">I", zh, 4, 0)
    bad_zh = good[:ihdr_at] + rechunk(b"IHDR", bytes(zh)) + rest
    with pytest.raises(ValueError, match="zero-dimension"):
        _parse_png(bad_zh)


def test_jpeg_huffman_reads_at_most_16_bits():
    """ADVICE r16: a 16-bit all-ones prefix that matches no code must
    raise 'invalid Huffman code' after exactly 16 bits — the old
    `<= 16` loop read a 17th bit and could misreport end-of-scan as a
    truncated stream."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _JpegBitReader,
        _jpeg_huff_decode,
    )

    # 16 one-bits available, table with no match: must raise invalid
    # (not truncated), proving the 17th bit is never consumed
    reader = _JpegBitReader(b"\xff\x00\xff\x00")
    with pytest.raises(ValueError, match="invalid Huffman code"):
        _jpeg_huff_decode(reader, {(0, 1): 0})


def test_jpeg_sampling_layouts_roundtrip_closed_form():
    """r17: the generalized MCU walk across ALL four supported sampling
    layouts — 4:4:4 (1,1), 4:2:2 (2,1), 4:4:0 (1,2), 4:2:0 (2,2) —
    random flat blocks, each decoded bit-exactly to the per-channel
    closed form with the right per-axis chroma replication (a swapped
    H/V replicates along the wrong axis and moves every off-diagonal
    pixel)."""
    from log_analysis_bigdata_spark.multimodal.assets import (
        _build_jpeg_color,
        _parse_jpeg_color,
    )

    rng = np.random.RandomState(3)
    for hs_, vs_ in ((1, 1), (2, 1), (1, 2), (2, 2)):
        w, h = 32, 32
        yb = rng.randint(0, 256, (h // 8, w // 8)).astype(np.uint8)
        cbb = rng.randint(
            0, 256, (h // (8 * vs_), w // (8 * hs_))
        ).astype(np.uint8)
        crb = rng.randint(
            0, 256, (h // (8 * vs_), w // (8 * hs_))
        ).astype(np.uint8)
        pw, ph, rgb = _parse_jpeg_color(
            _build_jpeg_color(w, h, yb, cbb, crb, sampling=(hs_, vs_))
        )
        assert (pw, ph) == (w, h)

        def dec(v):
            return min(255, max(0, 2 * _jpeg_rhalf(int(v) - 128) + 128))

        y = np.repeat(
            np.repeat(np.vectorize(dec)(yb), 8, 0), 8, 1
        ).astype(float)
        cb = np.repeat(
            np.repeat(np.vectorize(dec)(cbb), 8 * vs_, 0), 8 * hs_, 1
        ).astype(float)
        cr = np.repeat(
            np.repeat(np.vectorize(dec)(crb), 8 * vs_, 0), 8 * hs_, 1
        ).astype(float)
        exp = np.clip(
            np.stack(
                [
                    np.floor(y + 1.402 * (cr - 128.0) + 0.5),
                    np.floor(
                        y
                        - 0.344136 * (cb - 128.0)
                        - 0.714136 * (cr - 128.0)
                        + 0.5
                    ),
                    np.floor(y + 1.772 * (cb - 128.0) + 0.5),
                ],
                -1,
            ),
            0,
            255,
        ).astype(np.int64)
        assert np.array_equal(rgb, exp), (hs_, vs_)
