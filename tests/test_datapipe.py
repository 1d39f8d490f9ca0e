"""Training-data ops: hash-seeded operators (MinHash/SimHash/LSH) are
verified against independent Python implementations and recall targets;
the SQL-expressible ones are covered by scripts/verify_oracle.py and the
driver's DuckDB gate."""

import re

import pytest
from pyspark.sql import functions as F

from sqlite_otel_spark.datapipe import dedup as dd
from sqlite_otel_spark.datapipe import multimodal as mm
from sqlite_otel_spark.datapipe import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # add guaranteed near-duplicates: doc N' = doc N with one word changed
    dupes = (
        base.filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    return base.unionByName(dupes).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _python_tokens(text):
    return re.findall("[a-z0-9]+", text.lower())


def _python_shingles(text, n=3):
    t = _python_tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def test_shingles_match_python(spark, docs):
    got = {
        (r.doc_id, r.shingle)
        for r in dd.shingles(docs.filter(F.col("doc_id") < 5)).collect()
    }
    want = set()
    for r in docs.filter(F.col("doc_id") < 5).collect():
        for s in _python_shingles(r.text):
            want.add((r.doc_id, s))
    assert got == want


def test_jaccard_pairs_match_python(spark, docs):
    sub = docs.filter((F.col("doc_id") < 10) | (F.col("doc_id") >= 100000))
    got = {(r.doc_a, r.doc_b): r.jaccard for r in dd.jaccard_pairs(dd.shingles(sub), 0.5).collect()}
    rows = {r.doc_id: _python_shingles(r.text) for r in sub.collect()}
    want = {}
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(rows[a] & rows[b])
            if inter:
                j = round(inter / len(rows[a] | rows[b]), 4)
                if j >= 0.5:
                    want[(a, b)] = j
    assert got == pytest.approx(want)
    # the planted near-dups must be found
    assert all((i, i + 100000) in got for i in range(10))


def test_minhash_lsh_recall(spark, docs):
    sh = dd.shingles(docs)
    exact = {
        (r.doc_a, r.doc_b) for r in dd.jaccard_pairs(sh, threshold=0.8).collect()
    }
    assert len(exact) >= 10  # planted dups are >0.8 jaccard
    cand = dd.minhash_lsh_candidates(dd.minhash_signatures(sh, 64), bands=16, rows=4)
    approx = {
        (r.doc_a, r.doc_b)
        for r in dd.jaccard_pairs(sh, threshold=0.8, candidates=cand).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9  # 16x4 banding: P(detect) ~ 1-(1-j^4)^16 >= .998 at j=.8
    assert approx <= exact


def test_gated_jaccard_default_recall(spark, docs):
    """The dp_ngram_jaccard default is the 16x2-banded MinHash gate over
    32 permutations: its output must be a subset of the exact all-pairs
    result with near-total recall at the 0.6 threshold."""
    sh = dd.shingles(docs)
    exact = {(r.doc_a, r.doc_b) for r in dd.jaccard_pairs(sh, 0.6).collect()}
    assert len(exact) >= 10  # planted near-dups
    cand = dd.minhash_lsh_candidates(dd.minhash_signatures(sh, 32), bands=16, rows=2)
    gated = {
        (r.doc_a, r.doc_b)
        for r in dd.jaccard_pairs(sh, 0.6, candidates=cand).collect()
    }
    assert gated <= exact
    assert len(gated & exact) / len(exact) >= 0.95  # 1-(1-j^2)^16 ≈ .999 at j=.6


def test_lsh_near_pairs_subset_of_exact(spark, emb):
    """dp_embedding_neardup_lsh (the scale path): every reported pair
    must also be an exact-cosine near-dup with the identical rounded
    cosine; the banded gate keeps a usable fraction of them."""
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in (
            a.crossJoin(b)
            .filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("cosine", F.round(sim.cosine_col(F.col("ea"), F.col("eb")), 4))
            .filter(F.col("cosine") >= 0.4)
        ).collect()
    }
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in sim.lsh_near_pairs(emb, dim=64, threshold=0.4).collect()
    }
    assert set(got) <= set(exact)
    for k, v in got.items():
        assert v == exact[k]
    if exact:
        # 12-plane/4-band gate: collision prob rises with cosine; random
        # vectors near the 0.4 floor collide ~1/3 of the time
        assert len(got) / len(exact) >= 0.2


def test_simhash_matches_python(spark, docs):
    import ctypes

    def xxhash64_py(spark_df_rows):  # use Spark itself to get token hashes
        pass

    sub = docs.filter(F.col("doc_id") < 20)
    got = {r.doc_id: r.simhash for r in dd.simhash(sub).collect()}

    # independent: compute via spark xxhash64 on distinct tokens, then fold
    # the bit-sums in Python
    toks = (
        sub.select("doc_id", F.explode(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))).alias("tok"))
        .withColumn("th", F.xxhash64("tok"))
        .collect()
    )
    from collections import defaultdict

    sums = defaultdict(lambda: [0] * 64)
    for r in toks:
        h = r.th & (2**64 - 1)
        for j in range(64):
            sums[r.doc_id][j] += 1 if (h >> j) & 1 else -1
    want = {}
    for d, bits in sums.items():
        fp = 0
        for j in range(64):
            if bits[j] > 0:
                fp |= 1 << j
        want[d] = ctypes.c_int64(fp).value
    assert got == want


def test_simhash_near_dups_find_planted(spark, docs):
    pairs = {(r.doc_a, r.doc_b) for r in dd.simhash_near_dups(dd.simhash(docs), 3).collect()}
    hits = sum((i, i + 100000) in pairs for i in range(10))
    assert hits >= 8  # one-word change flips few bits; allow slack


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    brute = sim.brute_force_topk(emb, queries, k=10).collect()
    approx = sim.lsh_topk(emb, queries, dim=64, k=10).collect()
    bsets = {}
    for r in brute:
        bsets.setdefault(r.query_id, set()).add(r.neighbor_id)
    asets = {}
    for r in approx:
        asets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(bsets[q] & asets.get(q, set())) / len(bsets[q]) for q in bsets]
    assert sum(recalls) / len(recalls) >= 0.5  # 2x6-bit bands, random vectors


def test_ivf_topk_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    brute = sim.brute_force_topk(emb, queries, k=10).collect()
    approx = sim.ivf_topk(emb, queries, dim=64, k=10, k_cells=8, nprobe=2).collect()
    bsets, asets = {}, {}
    for r in brute:
        bsets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        asets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(bsets[q] & asets.get(q, set())) / len(bsets[q]) for q in bsets]
    # 2-of-8 probed cells scan ~1/4 of the corpus; near-neighbors
    # concentrate in the query's own cells, so recall beats that floor
    assert sum(recalls) / len(recalls) >= 0.35


def test_trained_ivf_codebook(spark, emb):
    """Lloyd-trained spherical k-means codebook: deterministic,
    unit-norm, moves off the seeded init, and the trained IVF retains
    recall at the same probe budget."""
    import math

    book1 = sim.train_ivf_codebook(emb, dim=64, k_cells=8, n_iter=2)
    book2 = sim.train_ivf_codebook(emb, dim=64, k_cells=8, n_iter=2)
    assert book1 == book2  # deterministic across runs
    init = [sim.ivf_centroid(64, c) for c in range(8)]
    assert book1 != init
    for v in book1:
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9

    queries = emb.filter(F.col("vec_id") < 20)
    brute = sim.brute_force_topk(emb, queries, k=10).collect()
    approx = sim.ivf_topk(emb, queries, dim=64, k=10, k_cells=8, nprobe=2,
                          codebook=book1).collect()
    bsets, asets = {}, {}
    for r in brute:
        bsets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        asets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(bsets[q] & asets.get(q, set())) / len(bsets[q]) for q in bsets]
    assert sum(recalls) / len(recalls) >= 0.35


def test_multimodal_plumbing(spark, docs):
    media = mm.to_media(docs.filter(F.col("doc_id") < 30))
    feats = {r.doc_id: r for r in mm.extract_features(media).collect()}
    for r in docs.filter(F.col("doc_id") < 30).collect():
        f = feats[r.doc_id]
        n = len(r.text.encode())
        assert f.n_bytes == n
        assert (f.width, f.height) == (n % 640 + 1, n % 480 + 1)
        assert f.media_type == ["image", "audio", "video"][r.doc_id % 3]
    frames = mm.frame_sample(media.filter(F.col("doc_id") == 0))
    assert frames.count() >= 1
    # resize: fits the box, preserves aspect (within floor rounding),
    # byte count scales quadratically with the linear factor
    for r in mm.resize(media, 128, 96).collect():
        assert 1 <= r.resized_w <= 128 and 1 <= r.resized_h <= 96
        if r.width <= 128 and r.height <= 96:
            assert (r.resized_w, r.resized_h) == (r.width, r.height)
        else:
            assert (r.resized_w == 128) or (r.resized_h >= 95)


def test_exact_duplicates(spark, docs):
    twice = docs.unionByName(docs.filter(F.col("doc_id") < 3))
    groups = dd.exact_duplicates(twice).collect()
    assert len(groups) == 3
    assert all(g.n_docs == 2 for g in groups)


def test_text_stats_single_tokenization_pass(spark, docs):
    """Round-3 one-pass text kernel: lang-ID (9 markers) + quality
    (7 stopwords + 3 derived stats) over a shared materialized token
    array must keep exactly ONE regexp tokenization in the optimized
    plan (the old form scanned the full text once per needle), and the
    token-filter counts must match a pure-Python recount."""
    from sqlite_otel_spark.datapipe import text as dtext

    base = docs.withColumn("__tokens", dtext.tokens_col(F.col("text")))
    qcols = dtext.quality_cols(F.col("text"), F.col("__tokens"))
    df = base.select(
        "doc_id",
        dtext.lang_id_col(F.col("text"), F.col("__tokens")).alias("lang_pred"),
        *[c.alias(n) for n, c in qcols.items()],
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == 1

    got = {r.doc_id: r for r in df.filter(F.col("doc_id") < 20).collect()}
    for r in docs.filter(F.col("doc_id") < 20).collect():
        toks = _python_tokens(r.text)
        g = got[r.doc_id]
        assert g.n_tokens == len(toks)
        stop = sum(1 for t in toks if t in {"the", "and", "of", "a", "to", "in", "is"})
        assert g.stopword_ratio == pytest.approx(
            round(stop / max(len(toks), 1), 4))
        assert g.mean_token_len == pytest.approx(
            round(sum(map(len, toks)) / max(len(toks), 1), 4))


# ---------------------------------------------------------------------------
# Real pure-stdlib codecs (round 3): the test builds media bytes with a
# FORWARD filter/encoder, the decoder applies the INVERSE — independent
# directions, so agreement is a real codec check.
# ---------------------------------------------------------------------------


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload)))


def _make_png(pixels: bytes, w: int, h: int, color_type: int = 2,
              filters=None) -> bytes:
    """Encode raw 8-bit pixels as a PNG, forward-filtering each scanline
    with the given per-row filter types (default all 0/None)."""
    import struct
    import zlib

    bpp = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = w * bpp
    filters = filters or [0] * h
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = pixels[y * stride:(y + 1) * stride]
        f = filters[y]
        raw.append(f)
        for i in range(stride):
            left = line[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                v = line[i]
            elif f == 1:
                v = line[i] - left
            elif f == 2:
                v = line[i] - up
            elif f == 3:
                v = line[i] - (left + up) // 2
            else:  # 4 = Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                v = line[i] - pred
            raw.append(v & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def _make_wav(n_frames: int, n_channels: int = 2, rate: int = 8000,
              bits: int = 16) -> bytes:
    import struct

    block = n_channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, n_channels, rate, rate * block, block, bits)
    data = bytes(n_frames * block)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_png_decoder_all_filters():
    import zlib

    w, h = 5, 4
    pixels = bytes((x * 37 + 11) % 256 for x in range(w * h * 3))
    for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h, [0, 1, 2, 4]):
        png = _make_png(pixels, w, h, filters=filters)
        got = mm.decode_png(png)
        assert got == (w, h, zlib.crc32(pixels)), f"filters={filters}"
    # grayscale + RGBA variants
    gray = bytes(range(16))
    assert mm.decode_png(_make_png(gray, 4, 4, color_type=0))[:2] == (4, 4)
    rgba = bytes((x * 7) % 256 for x in range(6 * 3 * 4))
    assert mm.decode_png(_make_png(rgba, 6, 3, color_type=6))[:2] == (6, 3)
    # non-PNG and truncated inputs must fall through, not raise
    assert mm.decode_png(b"not a png") is None
    assert mm.decode_png(_make_png(pixels, w, h)[:20]) is None


def test_wav_decoder():
    assert mm.decode_wav(_make_wav(1234, 2, 44100)) == (1234, 2, 44100)
    assert mm.decode_wav(_make_wav(10, 1, 8000, bits=8)) == (10, 1, 8000)
    assert mm.decode_wav(b"RIFFxxxx....") is None
    assert mm.decode_wav(b"plain text") is None


def _make_jpeg(w: int, h: int, progressive: bool = False) -> bytes:
    """Minimal marker-level JPEG: SOI + APP0(JFIF) + DQT + SOF + EOI —
    enough structure for the header parser (the entropy-coded scan is
    not needed for geometry)."""
    import struct

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, b"\x00" + bytes(64))
    sof_marker = 0xC2 if progressive else 0xC0
    sof = seg(sof_marker,
              struct.pack(">BHHB", 8, h, w, 3) + b"\x01\x22\x00"
              + b"\x02\x11\x01" + b"\x03\x11\x01")
    return b"\xff\xd8" + app0 + dqt + sof + b"\xff\xd9"


def _make_gif(w: int, h: int, version: bytes = b"GIF89a") -> bytes:
    import struct

    return (version + struct.pack("<HH", w, h) + b"\x00\x00\x00"
            + b"\x3b")


def test_jpeg_gif_decoders():
    import zlib

    jpg = _make_jpeg(640, 480)
    assert mm.decode_jpeg(jpg) == (640, 480, zlib.crc32(jpg))
    prog = _make_jpeg(31, 17, progressive=True)
    assert mm.decode_jpeg(prog) == (31, 17, zlib.crc32(prog))
    assert mm.decode_jpeg(b"\xff\xd8\xff\xd9") is None  # EOI before SOF
    assert mm.decode_jpeg(b"not a jpeg") is None
    gif = _make_gif(12, 34)
    assert mm.decode_gif(gif) == (12, 34, zlib.crc32(gif))
    assert mm.decode_gif(_make_gif(5, 6, b"GIF87a"))[:2] == (5, 6)
    assert mm.decode_gif(b"GIF88a\x01\x00\x01\x00") is None
    # router + magic sniff agree across all four formats
    for payload, expect in ((jpg, True), (gif, True),
                            (b"plain text", False)):
        assert mm.is_media_magic(payload) is expect
        assert (mm.decode_media(payload) is not None) is expect


def _lzw_pack(codes_widths) -> bytes:
    """Pack (code, bit_width) pairs LSB-first (GIF89a appendix F)."""
    acc = n = 0
    out = bytearray()
    for code, width in codes_widths:
        acc |= code << n
        n += width
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_encode(min_cs: int, indices: bytes) -> bytes:
    """Adaptive GIF LZW encoder (test-side ground truth for the
    roundtrip property): grows the code width exactly when the decoder
    does — after adding entry E, width bumps when E+1 == 2^width."""
    clear, end = 1 << min_cs, (1 << min_cs) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    size = min_cs + 1
    codes = [(clear, size)]
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        codes.append((table[w], size))
        if next_code < 4096:
            table[wk] = next_code
            if next_code + 1 == (1 << size) and size < 12:
                size += 1
            next_code += 1
        w = bytes([b])
    if w:
        codes.append((table[w], size))
    codes.append((end, size))
    return _lzw_pack(codes)


def _make_gif_pixels(w: int, h: int, indices: bytes,
                     interlaced: bool = False,
                     lzw: bytes | None = None, min_cs: int = 2) -> bytes:
    """A complete single-frame GIF: header + LSD + 4-entry global color
    table + graphic-control extension + image descriptor + LZW data
    sub-blocks + trailer."""
    import struct

    if lzw is None:
        lzw = _lzw_encode(min_cs, indices)
    out = bytearray(b"GIF89a" + struct.pack("<HH", w, h))
    out += bytes([0x80 | 0x01, 0, 0])       # GCT flag, 4-entry table
    out += bytes(12)                          # 4 RGB entries
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE extension
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlaced else 0x00])
    out += bytes([min_cs])
    for i in range(0, len(lzw), 255):        # data sub-blocks
        chunk = lzw[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_pixel_decode():
    """Real LZW pixel decode (round 5; the GIF half of the VERDICT r4
    'header-only' gap): the checksum is over decoded palette-index
    bytes, so two GIFs with identical headers but different pixels
    differ — and a hand-packed KwKwK+growth vector pins the two classic
    LZW decoder traps."""
    import random
    import zlib

    px = bytes([0, 1, 2, 3, 0, 1, 2, 3, 0, 0, 1, 1])
    g = _make_gif_pixels(4, 3, px)
    assert mm.decode_gif(g) == (4, 3, zlib.crc32(px))
    # pixels differ -> checksum differs, header identical
    px2 = bytes([0] * 12)
    g2 = _make_gif_pixels(4, 3, px2)
    assert mm.decode_gif(g2) == (4, 3, zlib.crc32(px2))
    assert zlib.crc32(px) != zlib.crc32(px2)
    # KwKwK + width-growth hand vector: pixels 0,0,0,0 encode as
    # clear(4),0,KwKwK(6),0,end(5); the decoder appends its 7th entry
    # while processing the KwKwK code, so the FOURTH code is already
    # read at 4 bits (the lag-aware growth point)
    lzw = _lzw_pack([(4, 3), (0, 3), (6, 3), (0, 4), (5, 4)])
    gk = _make_gif_pixels(2, 2, b"", lzw=lzw)
    assert mm.decode_gif(gk) == (2, 2, zlib.crc32(bytes(4)))
    # interlaced rows come back in raster order
    rows = [bytes([r % 4] * 4) for r in range(9)]
    raster = b"".join(rows)
    stored = b"".join(rows[r] for start, step in ((0, 8), (4, 8), (2, 4),
                                                  (1, 2))
                      for r in range(start, 9, step))
    gi = _make_gif_pixels(4, 9, stored, interlaced=True)
    assert mm.decode_gif(gi) == (4, 9, zlib.crc32(raster))
    # roundtrip property: random index streams (dictionary stress,
    # width growth to 9+ bits) survive encode->decode bit-exactly
    rng = random.Random(7)
    for n in (1, 7, 64, 2000, 6000):
        px = bytes(rng.randrange(4) for _ in range(n))
        w = min(n, 100)
        h = (n + w - 1) // w
        padded = px + bytes(w * h - n)
        g = _make_gif_pixels(w, h, padded)
        assert mm.decode_gif(g) == (w, h, zlib.crc32(padded)), n
    # corrupt pixel stream degrades to the header-level form
    bad = bytearray(_make_gif_pixels(4, 3, px2))
    bad[-10:-2] = b"\xff" * 8  # stomp the LZW bytes
    out = mm.decode_gif(bytes(bad))
    assert out[:2] == (4, 3) and out[2] == zlib.crc32(bytes(bad))


def test_extract_features_jpeg_gif(spark):
    """JPEG/GIF payloads produce real dimensions through the
    mapInPandas kernel alongside PNG/WAV/stub rows."""
    import zlib

    jpg = _make_jpeg(101, 55)
    gif = _make_gif(77, 33)
    media = spark.createDataFrame(
        [(1, "image", bytearray(jpg), len(jpg)),
         (2, "image", bytearray(gif), len(gif))],
        "doc_id long, media_type string, payload binary, n_bytes long",
    )
    got = {r.doc_id: r for r in mm.extract_features(media).collect()}
    assert (got[1].width, got[1].height, got[1].checksum) == (
        101, 55, zlib.crc32(jpg))
    assert (got[2].width, got[2].height, got[2].checksum) == (
        77, 33, zlib.crc32(gif))
    rz = {r.doc_id: r for r in mm.resize(media).collect()}
    assert (rz[1].resized_w, rz[1].resized_h) == (101, 55)  # fits box
    assert (rz[2].resized_w, rz[2].resized_h) == (77, 33)


def test_extract_features_real_codecs(spark):
    """End-to-end: recognized payloads produce REAL dimensions through
    the mapInPandas kernel; unrecognized ones keep the deterministic
    stub (the oracle surface)."""
    import zlib

    w, h = 7, 3
    pixels = bytes((x * 13 + 5) % 256 for x in range(w * h * 3))
    png = _make_png(pixels, w, h, filters=[4, 2, 1])
    wav = _make_wav(500, 2, 16000)
    txt = b"just some text payload"
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), len(png)),
         (2, "audio", bytearray(wav), len(wav)),
         (3, "video", bytearray(txt), len(txt))],
        "doc_id long, media_type string, payload binary, n_bytes long",
    )
    got = {r.doc_id: r for r in mm.extract_features(media).collect()}
    assert (got[1].width, got[1].height) == (w, h)
    assert got[1].checksum == zlib.crc32(pixels)
    assert (got[2].width, got[2].height) == (500, 2)
    assert got[2].checksum == 16000
    assert (got[3].width, got[3].height) == (len(txt) % 640 + 1, len(txt) % 480 + 1)
    # resize consumes real dims too: 7x3 fits the 128x96 box unchanged
    rz = {r.doc_id: r for r in mm.resize(media).collect()}
    assert (rz[1].width, rz[1].height, rz[1].resized_w, rz[1].resized_h) == (w, h, w, h)


def test_stub_decode_unconditional_with_pil(spark, monkeypatch):
    """ADVICE r3 / VERDICT r3 item 3: a present PIL must not crash the
    unrecognized-payload fallback — the stub is unconditional and a real
    PIL decoder would be ADDITIVE (inside decode_media), not a
    replacement for the fallback."""
    monkeypatch.setattr(mm, "HAS_REAL_CODECS", True)
    assert mm._stub_decode(100) == (100 % 640 + 1, 100 % 480 + 1)
    txt = b"unrecognized payload bytes"
    media = spark.createDataFrame(
        [(9, "video", bytearray(txt), len(txt))],
        "doc_id long, media_type string, payload binary, n_bytes long",
    )
    row = mm.resize(media).collect()[0]
    assert (row.width, row.height) == (len(txt) % 640 + 1, len(txt) % 480 + 1)
    feat = mm.extract_features(media).collect()[0]
    assert (feat.width, feat.height) == (len(txt) % 640 + 1, len(txt) % 480 + 1)


def test_frame_sample_binary_safe(spark):
    """VERDICT r3 item 4: real (non-UTF-8) PNG bytes survive frame
    sampling — every hex signature equals hex() of the raw payload
    slice at the same byte offset; the old cast-to-string slicing
    corrupted bytes above 0x7f."""
    w, h = 16, 16
    pixels = bytes((x * 7 + 3) % 256 for x in range(w * h * 3))
    png = _make_png(pixels, w, h, filters=[2] * h)
    assert any(b > 0x7F for b in png[:64])  # genuinely non-ASCII payload
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), len(png))],
        "doc_id long, media_type string, payload binary, n_bytes long",
    )
    rows = mm.frame_sample(media, every_n_bytes=64).orderBy("frame_idx").collect()
    assert len(rows) == max(1, len(png) // 64)
    for r in rows:
        start = r.frame_idx * 64
        assert r.frame_sig == png[start:start + 8].hex().upper()


def test_vectorized_ann_kernels_match_expression_forms(spark, emb):
    """The numpy matmul kernels must reproduce the Catalyst expression
    forms exactly on real embeddings: bit-identical int64 signatures,
    identical cell assignments, identical 4-dp-rounded rerank output."""
    dim = 64
    sigs_np = {r.vec_id: r.s for r in emb.select(
        "vec_id", sim.lsh_sig_pd_udf(dim, 12)(F.col("embedding")).alias("s")).collect()}
    sigs_ex = {r.vec_id: r.s for r in emb.select(
        "vec_id", sim.lsh_bucket_col(F.col("embedding"), dim, 12).alias("s")).collect()}
    assert sigs_np == sigs_ex

    cells_np = {r.vec_id: r.c for r in emb.select(
        "vec_id", sim.ivf_cells_pd_udf(dim, 8, 2)(F.col("embedding")).alias("c")).collect()}
    cells_ex = {r.vec_id: r.c for r in emb.select(
        "vec_id", sim.ivf_cells_col(F.col("embedding"), dim, 8, 2).alias("c")).collect()}
    assert cells_np == cells_ex

    q = emb.filter(F.col("vec_id") < 5)
    for fn, kw in ((sim.lsh_topk, {}), (sim.ivf_topk, {})):
        got_np = {tuple(r) for r in fn(emb, q, dim, vectorized=True).collect()}
        got_ex = {tuple(r) for r in fn(emb, q, dim, vectorized=False).collect()}
        assert got_np == got_ex, fn.__name__
    pairs_np = {tuple(r) for r in sim.lsh_near_pairs(emb, dim, vectorized=True).collect()}
    pairs_ex = {tuple(r) for r in sim.lsh_near_pairs(emb, dim, vectorized=False).collect()}
    assert pairs_np == pairs_ex


def test_connected_components_matches_union_find(spark, docs):
    """Clustering the near-dup pair graph: the iterative min-label
    propagation must equal a sequential union-find over the same
    pairs, and keep-list = one representative (min id) per cluster."""
    fp = dd.simhash(docs, n_bits=64)
    pairs = dd.simhash_near_dups(fp, max_hamming=3, n_bits=64)
    got = {r.doc_id: (r.component, r.keep)
           for r in dd.dedup_decisions(pairs).collect()}

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in parent:
        root = find(n)
        want[n] = root
    # canonical min-label per component
    comp_min: dict = {}
    for n, root in want.items():
        comp_min.setdefault(root, n)
        comp_min[root] = min(comp_min[root], n)
    assert len(got) == len(want)
    for n, root in want.items():
        assert got[n] == (comp_min[root], n == comp_min[root]), n
    # synthetic chain A-B, B-C, C-D: all collapse to one component
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: (r.component, r.keep)
           for r in dd.dedup_decisions(chain).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (1, False), 10: (10, True), 11: (10, False)}


def test_connected_components_long_chain(spark):
    """VERDICT r3 item 7 / ADVICE r3: a 1000-node PATH (adversarial
    diameter — e.g. sequentially drifting near-dup versions where only
    adjacent pairs are emitted) must converge within the default
    max_iter thanks to the per-round pointer jump (label deficit
    doubles per round: O(log L) rounds, ~11 for L=1000), where one-hop
    propagation would need ~1000 rounds and raise."""
    n = 1000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    labels = {r.doc_id: r.component
              for r in dd.connected_components(chain).collect()}
    assert len(labels) == n + 1
    assert set(labels.values()) == {0}
    # and the cap+raise path still guards non-convergence
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="no fixpoint"):
        dd.connected_components(chain, max_iter=2)


def test_connected_components_star_of_stars(spark):
    """VERDICT r4 item 8: adversarial WIDTH (the chain covers depth).
    One hub, 100 sub-hubs, 100 leaves each (10^4 leaves total) — the
    shape a boilerplate/template near-dup cluster takes at crawl scale.
    Shallow diameter must converge in <=3 rounds (max_iter=3 passes:
    the per-round pointer jump cannot regress to per-hop propagation),
    and the hub's degree must not concentrate on the driver — the only
    collect is the final labels."""
    edges = [(0, h) for h in range(1, 101)]
    edges += [(h, h * 1000 + l) for h in range(1, 101) for l in range(100)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    labels = {r.doc_id: r.component
              for r in dd.connected_components(pairs, max_iter=3).collect()}
    assert len(labels) == 1 + 100 + 100 * 100
    assert set(labels.values()) == {0}


def test_deterministic_sampling_properties(spark, docs):
    """Hash-gated sampling: reproducible across repartitionings, nested
    across fractions, and per-stratum kept shares near their targets."""
    from sqlite_otel_spark.datapipe import sample as smp

    base = docs.select("doc_id", "lang")
    k30 = {r.doc_id for r in smp.deterministic_sample(base, 0.3).collect()}
    # partitioning-invariant (Spark's sample() is NOT)
    k30b = {r.doc_id for r in
            smp.deterministic_sample(base.repartition(13), 0.3).collect()}
    assert k30 == k30b
    # nested: the 10% sample is a subset of the 30% sample
    k10 = {r.doc_id for r in smp.deterministic_sample(base, 0.1).collect()}
    assert k10 <= k30
    n = base.count()
    assert abs(len(k30) / n - 0.3) < 0.1
    # stratified: per-lang shares track their fractions
    kept = smp.stratified_sample(base, {"en": 0.5, "es": 0.25},
                                 default_fraction=0.0)
    shares = {r.lang: r.n for r in
              kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r.lang: r.n for r in
              base.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(shares) <= {"en", "es"}  # default 0.0 drops other strata
    for lang, frac in (("en", 0.5), ("es", 0.25)):
        if totals.get(lang, 0) >= 50:
            assert abs(shares.get(lang, 0) / totals[lang] - frac) < 0.15


def test_tfidf_matches_python(spark, docs):
    """TF-IDF top-terms vs an independent pure-Python computation."""
    import math
    from collections import Counter

    from sqlite_otel_spark.datapipe import text as dtx

    sub = docs.filter(F.col("doc_id") < 30).select("doc_id", "text")
    got = {(r.doc_id, r.rank): (r.token, r.tfidf)
           for r in dtx.tfidf_top_terms(sub, k=2).collect()}

    rows = {r.doc_id: _python_tokens(r.text) for r in sub.collect()}
    n = len(rows)
    tf = {d: Counter(toks) for d, toks in rows.items()}
    dfreq = Counter(t for d in tf for t in tf[d])
    for d in rows:
        scored = sorted(
            ((round(c * math.log(n / dfreq[t]), 4), t) for t, c in tf[d].items()),
            key=lambda x: (-x[0], x[1]),
        )[:2]
        for rank, (score, tok) in enumerate(scored, 1):
            assert got[(d, rank)] == (tok, pytest.approx(score)), (d, rank)


def test_corpus_filter_reasons(spark, docs):
    """Every doc gets exactly one verdict; reasons fire in fixed order
    and agree with a Python recount of the failing rule."""
    from sqlite_otel_spark.datapipe import text as dtx

    out = {r.doc_id: r for r in dtx.corpus_filter(
        docs.filter(F.col("doc_id") < 50), min_tokens=20).collect()}
    assert len(out) == 50
    stop = {"the", "and", "of", "a", "to", "in", "is"}
    for r_doc in docs.filter(F.col("doc_id") < 50).collect():
        toks = _python_tokens(r_doc.text)
        v = out[r_doc.doc_id]
        n_chars = len(r_doc.text)
        non_alnum = round((n_chars - sum(map(len, toks))) / max(n_chars, 1), 4)
        sr = round(sum(1 for t in toks if t in stop) / max(len(toks), 1), 4)
        if len(toks) < 20:
            want = "too_short"
        elif non_alnum > 0.5:
            want = "too_symbolic"
        elif sr < 0.01:
            want = "no_stopwords"
        else:
            want = None
        assert v.reject_reason == want, r_doc.doc_id
        assert v.keep == (want is None)


# ---------------------------------------------------------------------------
# Corpus cleaning: normalization, PII redaction, chunking (round 4)
# ---------------------------------------------------------------------------


def test_normalize_text(spark):
    from sqlite_otel_spark.datapipe import text as dtx
    df = spark.createDataFrame(
        [(1, "<p>Hello   <b>world</b></p>\t\nbye\x01\x7fnow"),
         (2, "   "),
         (3, "plain")],
        "id int, text string",
    )
    out = {r.id: r.norm for r in df.select(
        "id", dtx.normalize_text_col(F.col("text")).alias("norm")
    ).collect()}
    assert out[1] == "Hello world bye now"
    assert out[2] == ""
    assert out[3] == "plain"


def test_pii_redact_and_counts(spark):
    from sqlite_otel_spark.datapipe import text as dtx
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.org and 10.0.200.7 call +1 (415) 555-0100 ok"),
         (2, "no pii here 12345"),
         (3, "two mails x@y.io z@w.co")],
        "id int, text string",
    )
    counts = dtx.pii_count_cols(F.col("text"))
    rows = {r.id: r for r in df.select(
        "id", dtx.pii_redact_col(F.col("text")).alias("red"),
        *[c.alias(k) for k, c in counts.items()]
    ).collect()}
    assert rows[1].red == "mail <EMAIL> and <IP> call <PHONE> ok"
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_phone) == (1, 1, 1)
    assert rows[2].red == "no pii here 12345"  # bare digit runs are NOT PII
    assert (rows[2].n_email, rows[2].n_ipv4, rows[2].n_phone) == (0, 0, 0)
    assert rows[3].red == "two mails <EMAIL> <EMAIL>"
    assert rows[3].n_email == 2


def test_chunk_docs_boundaries(spark):
    from sqlite_otel_spark.datapipe import text as dtx
    words = " ".join(f"w{i:02d}" for i in range(40))  # 40 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "only three tokens"), (3, "")],
        "doc_id int, text string",
    )
    out = dtx.chunk_docs(df, chunk_size=16, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r.chunk_idx)
    # doc 1: stride 12, n_chunks = ceil((40-16)/12)+1 = 3
    c1 = by_doc[1]
    assert [r.chunk_idx for r in c1] == [0, 1, 2]
    assert [r.chunk_tokens for r in c1] == [16, 16, 16]
    assert c1[0].chunk_text.split()[0] == "w00"
    assert c1[1].chunk_text.split()[0] == "w12"   # 0-based token 12
    assert c1[2].chunk_text.split()[-1] == "w39"  # last token covered
    # overlap: chunk 1 starts inside chunk 0's tail
    assert c1[0].chunk_text.split()[-4:] == c1[1].chunk_text.split()[:4]
    # doc 2: short doc -> one whole chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_tokens == 3
    # doc 3: empty doc -> one EMPTY chunk (doc not dropped)
    assert len(by_doc[3]) == 1 and by_doc[3][0].chunk_tokens == 0
    assert by_doc[3][0].chunk_text == ""
    with pytest.raises(ValueError):
        dtx.chunk_docs(df, chunk_size=8, overlap=8)


# ---------------------------------------------------------------------------
# Repetition signals + decontamination (round 4)
# ---------------------------------------------------------------------------


def test_ngrams_and_repetition(spark):
    from sqlite_otel_spark.datapipe import text as dtx
    df = spark.createDataFrame(
        [(1, "a b a b a"),   # bigrams a b/b a/a b/b a; trigrams x3 (1 dup)
         (2, "x"),           # too short for any bigram
         (3, "c c c c")],    # bigrams c c x3; trigrams c c c x2
        "doc_id int, text string",
    )
    d = df.withColumn("t", dtx.tokens_col(F.col("text")))
    rep = dtx.repetition_cols(F.col("t"))
    rows = {r.doc_id: r for r in d.select(
        "doc_id", *[c.alias(k) for k, c in rep.items()]).collect()}
    assert rows[1].n_bigrams == 4
    assert rows[1].dup_bigram_frac == 0.5
    assert rows[1].top_bigram_frac == 0.5
    assert abs(rows[1].dup_trigram_frac - 1 / 3) < 1e-12
    assert rows[2].n_bigrams == 0
    assert rows[2].dup_bigram_frac == 0.0
    assert rows[2].top_bigram_frac == 0.0
    assert rows[2].dup_trigram_frac == 0.0
    assert abs(rows[3].dup_bigram_frac - 2 / 3) < 1e-12
    assert rows[3].top_bigram_frac == 1.0
    assert rows[3].dup_trigram_frac == 0.5


def test_line_repetition(spark):
    from sqlite_otel_spark.datapipe import text as dtx
    df = spark.createDataFrame(
        [(1, "aaaa\nbb\naaaa\n\ncc"),  # dup 'aaaa' x2; empty line dropped
         (2, "solo line"),
         (3, "")],
        "doc_id int, text string",
    )
    cols = dtx.line_repetition_cols(F.col("text"))
    rows = {r.doc_id: r for r in df.select(
        "doc_id", *[c.alias(k) for k, c in cols.items()]).collect()}
    assert rows[1].n_lines == 4
    assert rows[1].dup_line_frac == 0.25          # 4 lines, 3 distinct
    assert abs(rows[1].dup_line_char_frac - 8 / 12) < 1e-12
    assert rows[2].n_lines == 1
    assert rows[2].dup_line_frac == 0.0
    assert rows[2].dup_line_char_frac == 0.0
    assert rows[3].n_lines == 0
    assert rows[3].dup_line_frac == 0.0


def test_contamination_flags(spark):
    from sqlite_otel_spark.datapipe import text as dtx
    docs = spark.createDataFrame(
        [(0, "one two three four five"),       # eval (id % 2 == 0)
         (1, "zz one two three four yy"),      # train: one shared 4-gram
         (3, "totally different words here"),  # train: clean
         (5, "one two three four five tail")],  # train: two shared 4-grams
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           dtx.contamination_flags(docs, n=4, eval_mod=2).collect()}
    assert set(out) == {1, 3, 5}  # eval docs excluded from output
    assert out[1].contaminated and out[1].n_matched == 1
    assert not out[3].contaminated and out[3].n_matched == 0
    assert out[5].contaminated and out[5].n_matched == 2


def test_pack_sequences(spark):
    from sqlite_otel_spark.datapipe import text as dtx
    # synthetic chunk rows: (doc_id, chunk_idx, chunk_tokens)
    chunks = spark.createDataFrame(
        [(0, 0, 30), (0, 1, 30), (0, 2, 30),   # bucket 0: cum 0/30/60
         (2, 0, 50),                            # bucket 0: cum 90
         (1, 0, 64), (1, 1, 10)],               # bucket 1: cum 0/64
        "doc_id long, chunk_idx int, chunk_tokens long",
    )
    out = {r.seq_id: r for r in
           dtx.pack_sequences(chunks, budget=64, n_buckets=2).collect()}
    # bucket 0: chunks starting at cum 0,30,60 -> seq 0 (overflow by the
    # straddling third chunk); chunk starting at 90 -> seq 1
    assert out[0].n_chunks == 3 and out[0].n_tokens == 90
    assert out[0].n_docs == 1
    assert out[1].n_chunks == 1 and out[1].n_tokens == 50
    # bucket 1: starts at 0 and 64 -> two sequences, ids offset by the
    # bucket<<40 encoding (collision-free to 2^40 sequences/bucket)
    b1 = 1 << 40
    assert out[b1].n_chunks == 1 and out[b1].n_tokens == 64
    assert out[b1 + 1].n_chunks == 1 and out[b1 + 1].n_tokens == 10


def test_pack_sequences_no_cross_bucket_collision(spark):
    """ADVICE r4: the old bucket*1e6 encoding merged sequences across
    buckets once a bucket emitted >= 1M sequences. The <<40 encoding
    keeps buckets disjoint; simulate the collision-prone shape with a
    seq_in_bucket beyond 1e6 via many tiny chunks... at test scale,
    assert the id-space partitioning directly instead: every seq_id's
    high bits recover its bucket."""
    from sqlite_otel_spark.datapipe import text as dtx
    chunks = spark.createDataFrame(
        [(d, i, 64) for d in range(6) for i in range(4)],
        "doc_id long, chunk_idx int, chunk_tokens long",
    )
    rows = dtx.pack_sequences(chunks, budget=64, n_buckets=3).collect()
    for r in rows:
        assert (r.seq_id >> 40) in (0, 1, 2)
        assert (r.seq_id & ((1 << 40) - 1)) < 1 << 40
    # buckets 0/1/2 each hold 2 docs x 4 one-seq chunks = 8 sequences
    from collections import Counter
    per_bucket = Counter(r.seq_id >> 40 for r in rows)
    assert per_bucket == {0: 8, 1: 8, 2: 8}


def test_asof_join(spark):
    import datetime as dt

    from sqlite_otel_spark.operators.asof import asof_join

    def T(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    left = spark.createDataFrame(
        [(100, 1, T(10), 5.0),   # clicks at :05 and :10 — inclusive tie
         (101, 1, T(4), 6.0),    # before any click -> NULLs
         (102, 2, T(30), 7.0)],  # two clicks at the same ts -> max id
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(1, 1, T(5), 0.5), (2, 1, T(10), 0.7),
         (3, 2, T(20), 0.1), (4, 2, T(20), 0.2)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = {r.event_id: r for r in asof_join(
        left, right, key="user_id", ts="ts",
        right_cols=["event_id", "value"], right_order="event_id",
    ).collect()}
    assert out[100].r_event_id == 2 and out[100].r_value == 0.7
    assert out[101].r_event_id is None and out[101].r_value is None
    assert out[102].r_event_id == 4 and out[102].r_value == 0.2
    # left columns pass through untouched
    assert out[100].value == 5.0 and out[100].ts == T(10)


def test_asof_join_string_tiebreak(spark):
    """ADVICE r4: a non-numeric tiebreak column must still break
    same-(key, ts) ties deterministically (the old cast-to-long made
    every string tiebreak NULL). Largest string wins."""
    import datetime as dt

    from sqlite_otel_spark.operators.asof import asof_join

    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 10, t)], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [("aaa", 10, t, 1.0), ("zzz", 10, t, 2.0), ("mmm", 10, t, 3.0)],
        "rid string, user_id long, ts timestamp, value double",
    )
    out = asof_join(left, right, key="user_id", ts="ts",
                    right_cols=["rid", "value"],
                    right_order="rid").collect()
    assert len(out) == 1
    assert out[0].r_rid == "zzz" and out[0].r_value == 2.0


def test_extract_url_domains(spark):
    from sqlite_otel_spark.datapipe import text as dtx
    df = spark.createDataFrame(
        [(1, "x https://a.com/p?q=1 y http://a.com/z w https://b.org/"),
         (2, "see https://a.com/other and nothing else"),
         (3, "no urls at all")],
        "doc_id long, text string",
    )
    out = {r.domain: r for r in dtx.extract_url_domains(df).collect()}
    assert set(out) == {"a.com", "b.org"}
    assert out["a.com"].n_urls == 3 and out["a.com"].n_docs == 2
    assert out["b.org"].n_urls == 1 and out["b.org"].n_docs == 1


def test_split_assign_properties(spark, docs):
    """Deterministic splits: total coverage, partitioning invariance,
    consistency with deterministic_sample, and validation errors."""
    from sqlite_otel_spark.datapipe import sample as smp

    base = docs.select("doc_id")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    assigned = smp.split_assign(base, splits)
    rows = {r.doc_id: r.split for r in assigned.collect()}
    # exactly one label per row, all labels legal
    assert len(rows) == base.count()
    assert set(rows.values()) <= set(splits)
    # partitioning-invariant
    rows_b = {r.doc_id: r.split for r in
              smp.split_assign(base.repartition(7), splits).collect()}
    assert rows == rows_b
    # consistency: the train split IS the 0.8 deterministic sample
    k80 = {r.doc_id for r in smp.deterministic_sample(base, 0.8).collect()}
    assert {d for d, s in rows.items() if s == "train"} == k80
    # shares near targets
    n = len(rows)
    for name, frac in splits.items():
        got = sum(1 for s in rows.values() if s == name) / n
        assert abs(got - frac) < 0.1, (name, got)
    with pytest.raises(ValueError, match="sum to 1"):
        smp.split_assign(base, {"a": 0.5, "b": 0.6})
    with pytest.raises(ValueError, match="two splits"):
        smp.split_assign(base, {"all": 1.0})


def test_mixture_weights_math(spark):
    """Weights move the mixture toward the target: hand fixture where
    'en' is 75% of tokens but targeted at 50%."""
    from sqlite_otel_spark.datapipe import sample as smp

    df = spark.createDataFrame(
        [(1, "en", "a b c d e f"), (2, "en", "a b c d e f"),
         (3, "en", "a b c"), (4, "es", "x y z w v")],
        "doc_id long, lang string, text string",
    )
    out = {r.lang: r for r in
           smp.mixture_weights(df, {"en": 0.5, "es": 0.5}).collect()}
    assert out["en"].n_tokens == 15 and out["es"].n_tokens == 5
    assert out["en"].token_share == 0.75 and out["es"].token_share == 0.25
    # en downsampled to 0.5/0.75; es capped at 1.0 (downsample-only)
    assert abs(out["en"].weight - round(0.5 / 0.75, 6)) < 1e-9
    assert out["es"].weight == 1.0
    # unlisted stratum -> target 0, weight 0
    out2 = {r.lang: r for r in smp.mixture_weights(df, {"es": 1.0}).collect()}
    assert out2["en"].weight == 0.0 and out2["en"].target_share == 0.0


def test_mixture_weights_zero_token_stratum(spark):
    """ADVICE r4: a stratum whose docs all have 0 tokens has no share
    to scale — untargeted it must get weight 0 (drop), targeted it gets
    the cap (keep-all; nothing to downsample). The old target/share
    division yielded NULL (Spark) vs NaN (DuckDB) and least() skipped
    the NULL into weight=cap even for target 0."""
    from sqlite_otel_spark.datapipe import sample as smp

    df = spark.createDataFrame(
        [(1, "en", "a b c d"), (2, "xx", ""), (3, "xx", "!!! ???")],
        "doc_id long, lang string, text string",
    )
    out = {r.lang: r for r in
           smp.mixture_weights(df, {"en": 1.0}).collect()}
    assert out["xx"].n_tokens == 0
    assert out["xx"].weight == 0.0          # untargeted zero stratum
    out2 = {r.lang: r for r in
            smp.mixture_weights(df, {"en": 0.5, "xx": 0.5}).collect()}
    assert out2["xx"].weight == 1.0         # targeted zero stratum: cap


def test_quantize_int8_bounds(spark, emb):
    """int8 quantization: codes in [-127,127], reconstruction error
    bounded by scale/2, zero vector safe, round-trip cosine close."""
    rows = sim.quantize_int8(emb).collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert -127 <= r.q_min <= r.q_max <= 127
        # scale is rounded to 6, so allow half-ulp slack on the bound
        assert r.max_abs_err <= r.scale / 2 + 1e-6, r.vec_id
    # zero vector: scale 0, all-zero code, zero error
    z = spark.createDataFrame([(0, [0.0] * 8)],
                              "vec_id long, embedding array<float>")
    zr = sim.quantize_int8(z).collect()[0]
    assert zr.scale == 0.0 and zr.q_min == zr.q_max == 0
    assert zr.max_abs_err == 0.0
    # dequantized vectors preserve cosine geometry (spot check)
    import math

    src = {r.vec_id: r.embedding for r in emb.limit(3).collect()}
    q = {r.vec_id: (r.qvec, r.scale) for r in
         sim.quantize_int8(emb.limit(3)).collect()}
    for vid, v in src.items():
        qv, s = q[vid]
        deq = [x * s for x in qv]
        dot = sum(a * b for a, b in zip(v, deq))
        cos = dot / (math.sqrt(sum(a * a for a in v))
                     * math.sqrt(sum(b * b for b in deq)))
        assert cos > 0.999


def test_shingle_tokenization_evaluated_once_per_row(spark, docs):
    """Round-6 regression guard: the token regex must be PROJECTED to a
    bound column before the gram-building transform lambda. Catalyst
    evaluates HOF lambdas interpreted with no subexpression
    elimination, so an inline tokens_col(text) inside the lambda re-ran
    regexp_extract_all for every element_at — n full-text regex scans
    per shingle (measured 8.8x on the cold dp_minhash_lsh wall). The
    optimized plan must therefore contain exactly ONE
    regexp_extract_all per gram-producing operator, and the
    bound-column form must stay value-identical to the text form."""
    sh_plan = dd.shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert sh_plan.lower().count("regexp_extract_all") == 1, sh_plan
    # contamination_flags tokenizes once per join branch (eval grams,
    # train grams): two regexes in the whole plan, none inside a lambda
    from sqlite_otel_spark.datapipe import text as dtext
    cf_plan = (dtext.contamination_flags(docs, n=4, eval_mod=2)
               ._jdf.queryExecution().optimizedPlan().toString())
    assert cf_plan.lower().count("regexp_extract_all") == 2, cf_plan
    # value parity: gram_array(text) == gram_array_from_tokens(bound col)
    from sqlite_otel_spark.datapipe.text import tokens_col
    sub = docs.filter(F.col("doc_id") < 50)
    a = sub.select("doc_id", dd.gram_array(F.col("text")).alias("g")).collect()
    b = (
        sub.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
        .select("doc_id", dd.gram_array_from_tokens(F.col("__toks")).alias("g"))
        .collect()
    )
    assert a == b
