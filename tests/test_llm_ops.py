"""LLM-pipeline operator tests beyond the oracle gate: semantic properties
the hash-compare can't express (recall of planted dups, stub behavior,
batch plumbing)."""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark.operators import dedup, multimodal, similarity
from tests.conftest import SF_SMALL


def test_minhash_finds_real_near_dups(spark):
    """Every verified-jaccard pair must actually share >= threshold of
    distinct 3-gram shingles (recompute in python on the pair docs)."""
    pairs = dedup.dedup_ngram_jaccard(spark, SF_SMALL).collect()
    assert len(pairs) > 0, "synthetic corpus plants near-dups; none found"
    docs = {r.doc_id: r.text for r in
            spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()}

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    for p in pairs:
        s1, s2 = shingles(docs[p.d1]), shingles(docs[p.d2])
        j = len(s1 & s2) / len(s1 | s2)
        assert abs(j - p.jaccard) < 1e-3, (p, j)
        assert j >= dedup.JACCARD_THRESHOLD


def test_minhash_keep_drops_only_pair_members(spark):
    kept = dedup.dedup_minhash_keep(spark, SF_SMALL).first().n_kept
    total = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    n_d2 = (dedup._jaccard_verified(spark, SF_SMALL)
            .filter("j >= 0.5").select("d2").distinct().count())
    assert kept == total - n_d2


def test_ann_topk_is_exact(spark):
    """Brute-force top-k must match a numpy recomputation."""
    import numpy as np
    rows = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    embs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    got = similarity.ann_cosine_topk(spark, SF_SMALL).collect()
    for q_id in range(similarity.N_QUERY):
        q = embs[q_id]
        sims = sorted(
            ((float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), vid)
             for vid, v in embs.items() if vid != q_id),
            key=lambda t: (-t[0], t[1]))[:similarity.TOP_K]
        mine = [(r.vec_id, r.rk) for r in got if r.q_id == q_id]
        assert mine == [(vid, i + 1) for i, (_, vid) in enumerate(sims)]


def test_multimodal_decode_refuses_real_media(spark):
    with pytest.raises(NotImplementedError):
        multimodal._fake_decode(b"\x89PNG\r\n\x1a\n....")


def test_multimodal_decode_plumbing(spark):
    """mapInPandas path: schema + row preservation + determinism."""
    feats = multimodal.decode_features(
        multimodal._binary_docs(spark, SF_SMALL))
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    rows = feats.collect()
    assert len(rows) == n_docs
    assert feats.schema == multimodal.DECODED_SCHEMA
    r0 = sorted(rows, key=lambda r: r.doc_id)[0]
    assert r0.format == "fake/deterministic" and r0.n_bytes > 0


def test_multimodal_resize_fixed_width_output(spark):
    """Real nearest-neighbor resize over genuine BMP+PNG payloads: fixed
    3*W*H RGB thumbnails, deterministic."""
    from otel_arrow_collector_spark.operators.multimodal import (
        resize_images, synthesize_media)
    from otel_arrow_collector_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL
    docs = load_table(spark, SF_SMALL, "documents").limit(30)
    b = synthesize_media(docs).filter("mime like 'image/%'")
    out = resize_images(b, width=8, height=4)
    rows = out.collect()
    assert len(rows) == b.count() > 0
    assert all(len(r.thumbnail) == 3 * 32 for r in rows)  # 3*W*H RGB bytes
    # deterministic: same input -> same thumbnail
    again = {r.doc_id: r.thumbnail for r in resize_images(
        b, width=8, height=4).collect()}
    assert all(again[r.doc_id] == r.thumbnail for r in rows)


def test_resize_nearest_neighbor_golden():
    """2x downsample of a 4x4 gradient picks exactly pixels (0,0) (2,0)
    (0,2) (2,2) — the nearest-neighbor contract, checked by hand."""
    from otel_arrow_collector_spark.operators.multimodal import (
        _image_pixels, encode_png)
    # pixel (x,y) has RGB (16x+y, 0, 0)
    pix = bytes(v for y in range(4) for x in range(4)
                for v in (16 * x + y, 0, 0))
    png = encode_png(pix, 4, 4)
    sw, sh, rgb = _image_pixels(png)
    assert (sw, sh) == (4, 4) and rgb == pix
    # emulate resize_images' inner loop at width=height=2
    got = [rgb[3 * ((y * sh // 2) * sw + (x * sw // 2))]
           for y in range(2) for x in range(2)]
    assert got == [0, 32, 2, 34]      # (0,0) (2,0) (0,2) (2,2)


def test_multimodal_frame_sampling_expands_rows(spark):
    import math
    from otel_arrow_collector_spark.operators.multimodal import (
        _binary_docs, _fake_decode, sample_frames)
    from tests.conftest import SF_SMALL
    b = _binary_docs(spark, SF_SMALL).limit(10)
    out = sample_frames(b, every_n=2).collect()
    want = sum(math.ceil(_fake_decode(bytes(r.payload))["n_frames"] / 2)
               for r in b.collect())
    assert len(out) == want
    assert all(r.frame_idx % 2 == 0 for r in out)


def test_shared_caches_keyed_by_application_id(spark):
    """Persisted per-session corpus caches key on applicationId, not
    id(session): a dead session's id() can be reused by a new object,
    silently returning another session's persisted DataFrames."""
    import os
    from otel_arrow_collector_spark.operators import cache_registry, similarity
    a = similarity.bucketed_embeddings(spark, SF_SMALL)
    b = similarity.bucketed_embeddings(spark, SF_SMALL)
    assert a is b   # cache hit within one session
    key = ("sim.bucketed", spark.sparkContext.applicationId,
           os.path.abspath(SF_SMALL))
    assert key in cache_registry._ENTRIES


def test_ivf_probe_scan_is_partition_pruned(spark):
    """The probe's candidate scan reads only the probed cells' directories:
    PartitionFilters on cid (the IVF 100 TB contract — cell-local I/O)."""
    from otel_arrow_collector_spark import plan_tree
    from otel_arrow_collector_spark.operators import similarity
    probe = similarity.ann_ivf_probe(spark, SF_SMALL)
    pf = [f for s in plan_tree.read(probe).scans()
          for f in s.partition_filters]
    assert any("cid" in f and ("insubquery(" in f or " IN (" in f)
               for f in pf)


def test_ivf_kmeans_centroids_deterministic(spark):
    """Two builds of the k-means centroids are bit-identical (fixed init,
    fixed iterations, order-pinned exact means — no RNG anywhere).
    The model memo is cleared between builds so the SECOND call really
    re-runs the training loop (not just a cache hit)."""
    from otel_arrow_collector_spark.operators.cache_registry import _ENTRIES
    from otel_arrow_collector_spark.operators.similarity import \
        _kmeans_centroids
    a = {r.cid: list(r.c_emb) for r in
         _kmeans_centroids(spark, SF_SMALL).collect()}
    for k in [k for k in _ENTRIES if k[0] == "sim.centroids"]:
        del _ENTRIES[k]
    b = {r.cid: list(r.c_emb) for r in
         _kmeans_centroids(spark, SF_SMALL).collect()}
    assert a == b and len(a) == 8


# --- real stdlib media codecs (BMP 24-bit, WAV PCM16) ----------------------

def test_bmp_golden_roundtrip():
    """Hand-checked 2x2 BMP: encode -> parse headers -> exact pixel stats."""
    from otel_arrow_collector_spark.operators.multimodal import (decode_bmp,
                                                                 encode_bmp)
    # pixels row-major: (B,G,R) = (10,20,30), (40,50,60), (1,2,3), (4,5,6)
    pix = bytes([10, 20, 30, 40, 50, 60, 1, 2, 3, 4, 5, 6])
    bmp = encode_bmp(pix, 2, 2)
    assert bmp[:2] == b"BM"
    import struct
    assert struct.unpack_from("<I", bmp, 10)[0] == 54     # pixel offset
    f = decode_bmp(bmp)
    assert f["format"] == "image/bmp"
    assert (f["width"], f["height"]) == (2, 2)
    # luma per pixel: 60//3=20, 150//3=50, 6//3=2, 15//3=5 -> mean 77//4=19
    assert f["mean_luma"] == (20 + 50 + 2 + 5) // 4


def test_wav_golden_roundtrip():
    from otel_arrow_collector_spark.operators.multimodal import (decode_wav,
                                                                 encode_wav)
    wav = encode_wav([100, -200, 300, -400], sample_rate=4000)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    f = decode_wav(wav)
    assert f["format"] == "audio/wav"
    assert f["sample_rate"] == 4000 and f["n_samples"] == 4
    assert f["duration_ms"] == 1   # 4 samples at 4 kHz
    assert f["mean_luma"] == (100 + 200 + 300 + 400) // 4


def test_png_golden_roundtrip():
    """encode_png -> decode_png: exact geometry + hand-computed luma."""
    from otel_arrow_collector_spark.operators.multimodal import (decode_png,
                                                                 encode_png)
    # 2x2 RGB: (30,20,10) (60,50,40) (3,2,1) (6,5,4)
    pix = bytes([30, 20, 10, 60, 50, 40, 3, 2, 1, 6, 5, 4])
    png = encode_png(pix, 2, 2)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    f = decode_png(png)
    assert f["format"] == "image/png"
    assert (f["width"], f["height"]) == (2, 2)
    assert f["mean_luma"] == (20 + 50 + 2 + 5) // 4


def test_png_unfilter_all_filter_types():
    """Forward-filter known scanlines with every PNG filter type (Sub, Up,
    Average, Paeth) and assert the decoder recovers the original pixels —
    the unfilter path is byte-exact for all five RFC 2083 filters."""
    import struct
    import zlib

    from otel_arrow_collector_spark.operators.multimodal import (_paeth,
                                                                 _png_chunk,
                                                                 _png_pixels)
    w = h = 4
    nch = 3
    stride = nch * w
    pix = bytes((7 * i + 3) % 256 for i in range(stride * h))
    lines = [bytearray(pix[y * stride:(y + 1) * stride]) for y in range(h)]
    filters = [1, 2, 3, 4]                    # one of each per scanline
    raw = bytearray()
    prev = bytearray(stride)
    for y, ft in enumerate(filters):
        line = lines[y]
        enc = bytearray(stride)
        for i in range(stride):
            left = line[i - nch] if i >= nch else 0
            up = prev[i]
            ul = prev[i - nch] if i >= nch else 0
            if ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, ul)
            enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([ft]) + enc
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
           + _png_chunk(b"IEND", b""))
    gw, gh, rgb = _png_pixels(png)
    assert (gw, gh) == (w, h) and rgb == pix


def test_png_gray_and_rgba_normalize_to_rgb():
    """Color type 0 expands gray to RGB; color type 6 drops alpha."""
    import struct
    import zlib

    from otel_arrow_collector_spark.operators.multimodal import (_png_chunk,
                                                                 _png_pixels)
    sig = b"\x89PNG\r\n\x1a\n"
    # 2x1 grayscale: values 9, 200
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
    png = (sig + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(b"\x00\x09\xc8"))
           + _png_chunk(b"IEND", b""))
    assert _png_pixels(png) == (2, 1, bytes([9, 9, 9, 200, 200, 200]))
    # 1x1 RGBA: (1,2,3,alpha=77)
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0)
    png = (sig + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x03\x4d"))
           + _png_chunk(b"IEND", b""))
    assert _png_pixels(png) == (1, 1, bytes([1, 2, 3]))


def test_png_sub_byte_grayscale():
    """1/2/4-bit grayscale decodes with the standard v*255/(2^d-1)
    expansion (every PNG color-type/depth combination is a real decode
    path now)."""
    import struct
    import zlib

    from otel_arrow_collector_spark.operators.multimodal import (_png_chunk,
                                                                 _png_pixels)

    def gray_png(w, h, depth, rows):
        out = bytearray()
        for row in rows:
            bits = "".join(format(i, f"0{depth}b") for i in row)
            bits += "0" * (-len(bits) % 8)
            out += b"\x00" + bytes(int(bits[i:i + 8], 2)
                                   for i in range(0, len(bits), 8))
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
                + _png_chunk(b"IEND", b""))

    w, h, rgb = _png_pixels(gray_png(5, 2, 1, [[0, 1, 1, 0, 1],
                                               [1, 0, 0, 1, 0]]))
    assert (w, h) == (5, 2)
    assert rgb[:6] == bytes([0, 0, 0, 255, 255, 255])
    assert _png_pixels(gray_png(3, 1, 2, [[0, 1, 3]]))[2] \
        == bytes([0, 0, 0, 85, 85, 85, 255, 255, 255])
    assert _png_pixels(gray_png(3, 1, 4, [[0, 5, 15]]))[2] \
        == bytes([0, 0, 0, 85, 85, 85, 255, 255, 255])


def _palette_png(w, h, depth, palette, indices, *, interlace=0):
    """Hand-build a filter-0 palette PNG: ``indices`` is a (h, w) list of
    palette slots, bit-packed big-endian per scanline (RFC 2083 §2.3)."""
    import struct
    import zlib

    from otel_arrow_collector_spark.operators.multimodal import (_ADAM7,
                                                                 _png_chunk)

    def pack_rows(rows):
        out = bytearray()
        for row in rows:
            bits = "".join(format(i, f"0{depth}b") for i in row)
            bits += "0" * (-len(bits) % 8)
            out += b"\x00" + bytes(int(bits[i:i + 8], 2)
                                   for i in range(0, len(bits), 8))
        return bytes(out)

    if not interlace:
        raw = pack_rows(indices)
    else:
        raw = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = [row[x0::dx] for row in indices[y0::dy]]
            if sub and sub[0]:
                raw += pack_rows(sub)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, interlace)
    plte = b"".join(bytes(c) for c in palette)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"PLTE", plte)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def test_png_palette_all_depths():
    """1/2/4/8-bit palette PNGs decode through PLTE to exact RGB,
    including byte-padded scanlines at non-aligned widths."""
    from otel_arrow_collector_spark.operators.multimodal import _png_pixels
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    idx = [[0, 1, 2], [3, 2, 1], [1, 1, 3]]          # 3x3: pad per row
    want = bytes(b for row in idx for i in row for b in pal[i])
    for depth in (2, 4, 8):
        assert _png_pixels(_palette_png(3, 3, depth, pal, idx)) \
            == (3, 3, want), f"depth {depth}"
    bw = [(0, 0, 0), (255, 255, 255)]
    idx1 = [[0, 1, 1, 0, 1], [1, 0, 0, 1, 0]]        # 5 wide: 3 pad bits
    want1 = bytes(b for row in idx1 for i in row for b in bw[i])
    assert _png_pixels(_palette_png(5, 2, 1, bw, idx1)) == (5, 2, want1)


def test_png_palette_adam7_interlaced():
    """Adam7 palette: per-pass bit packing + index scatter round-trips."""
    from otel_arrow_collector_spark.operators.multimodal import _png_pixels
    pal = [(i, 2 * i, 3 * i) for i in range(16)]
    idx = [[(x * 5 + y * 3) % 16 for x in range(9)] for y in range(10)]
    want = bytes(b for row in idx for i in row for b in pal[i])
    got = _png_pixels(_palette_png(9, 10, 4, pal, idx, interlace=1))
    assert got == (9, 10, want)


def test_png_palette_bad_inputs_loud():
    """Out-of-range palette index and missing PLTE fail loudly."""
    import pytest as _pytest

    from otel_arrow_collector_spark.operators.multimodal import _png_pixels
    png = _palette_png(2, 1, 8, [(1, 2, 3)], [[0, 4]])
    with _pytest.raises(ValueError, match="palette index"):
        _png_pixels(png)


def test_decode_media_end_to_end(spark):
    """synthesize -> decode over the corpus: every row decodes, formats
    cycle by doc_id % 3, geometry/rate match the synthesizer."""
    from otel_arrow_collector_spark.operators.multimodal import (
        decode_media, synthesize_media)
    from otel_arrow_collector_spark.sources.tables import load_table
    docs = load_table(spark, SF_SMALL, "documents").limit(50)
    feats = decode_media(synthesize_media(docs)).collect()
    assert len(feats) == 50
    for r in feats:
        kind = r.doc_id % 3
        if kind == 0:
            assert r.format == "image/bmp" and (r.width, r.height) == (8, 8)
        elif kind == 1:
            assert r.format == "audio/wav" and r.sample_rate == 8000
            assert r.n_samples == 64
        else:
            assert r.format == "image/png" and (r.width, r.height) == (8, 8)
    assert {r.format for r in feats} == {"image/bmp", "audio/wav",
                                         "image/png"}


def test_png_bmp_same_pixels_same_luma(spark):
    """The PNG and BMP arms render the same text seed to the same pixels
    (modulo BGR/RGB channel order), so identical seeds give identical
    mean luminance across the two codecs — a cross-codec consistency
    check on both decoders."""
    from otel_arrow_collector_spark.operators.multimodal import (
        decode_bmp, decode_png, encode_bmp, encode_png)
    seed = b"cross-codec luminance check"
    need = 3 * 8 * 8
    pix = (seed * (need // len(seed) + 1))[:need]
    # note: encode_bmp treats triples as BGR, encode_png as RGB; luma
    # (r+g+b)//3 is channel-order-insensitive per pixel
    f_bmp = decode_bmp(encode_bmp(pix, 8, 8))
    f_png = decode_png(encode_png(pix, 8, 8))
    assert f_bmp["mean_luma"] == f_png["mean_luma"]
    assert (f_png["width"], f_png["height"]) == (8, 8)


def test_decode_media_mp4_metadata_and_truncated_jpeg(spark):
    """MP4 payloads yield REAL container metadata (box-tree parse); MP4
    FRAME decode stays behind pyav (_image_pixels refuses); a truncated
    JPEG fails loudly rather than fabricating pixels."""
    import pytest as _pytest
    from otel_arrow_collector_spark.operators.multimodal import (
        _image_pixels, decode_media, encode_mp4_skeleton)
    mp4 = encode_mp4_skeleton(640, 360, duration_ms=2500)
    df = spark.createDataFrame([(1, bytearray(mp4))],
                               "doc_id long, payload binary")
    row = decode_media(df).collect()[0]
    assert (row.format, row.width, row.height, row.duration_ms) == \
        ("video/mp4", 640, 360, 2500)
    with _pytest.raises(NotImplementedError, match="pyav"):
        _image_pixels(mp4)
    bad = spark.createDataFrame(
        [(2, bytearray(b"\xff\xd8\xff\xe0JFIF"))],
        "doc_id long, payload binary")
    with _pytest.raises(Exception):
        decode_media(bad).collect()


import pytest as _pytest


@_pytest.mark.parametrize("force_distributed", [False, True])
def test_connected_components_path_graph(spark, force_distributed):
    # 1-2-3-...-8 path: one component labelled by min id; the distributed
    # path converges via pointer jumping well inside CC_MAX_ITERS
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "d1 long, d2 long")
    got = {(r.node, r.cluster_id)
           for r in dedup.connected_components(
               edges, force_distributed=force_distributed).collect()}
    assert got == {(i, 1) for i in range(1, 9)}


@_pytest.mark.parametrize("force_distributed", [False, True])
def test_connected_components_multiple_components(spark, force_distributed):
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)],
        "d1 long, d2 long")
    got = {(r.node, r.cluster_id)
           for r in dedup.connected_components(
               edges, force_distributed=force_distributed).collect()}
    assert got == {(10, 10), (11, 10), (12, 10),
                   (20, 20), (21, 20), (30, 30), (31, 30)}


def test_semantic_keep_matches_brute_force_components(spark):
    """dedup_semantic_keep (r15): labels equal an independent pure-
    Python union-find over the same within-cell pair set, keep bit is
    exactly vec_id == canonical, and every canonical is kept."""
    pairs = [(r.v1, r.v2) for r in
             dedup._semantic_pairs(spark, SF_SMALL).collect()]
    assert pairs
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    nodes = set()
    for a, b in pairs:
        nodes.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {(n, find(n), 1 if n == find(n) else 0) for n in nodes}
    got = {(r.vec_id, r.canon_id, r.keep) for r in
           dedup.dedup_semantic_keep(spark, SF_SMALL).collect()}
    assert got == expected
    kept = {c for _, c, k in got if k == 1}
    assert kept == {c for _, c, _ in got}        # every canonical kept


def test_semantic_keep_consistent_with_funnel(spark):
    """The keep-first component count can only be <= the greedy
    funnel's kept estimate per cell (transitive closure merges), and
    both consume the SAME pair relation."""
    keep = dedup.dedup_semantic_keep(spark, SF_SMALL).collect()
    funnel = dedup.dedup_semantic(spark, SF_SMALL).collect()
    n_clustered = len(keep)
    n_pairs_cells = sum(r.n_pairs for r in funnel)
    assert n_pairs_cells > 0 and n_clustered > 0
    # greedy drops count distinct v2 per cell; CC drops = clustered - components
    cc_drops = n_clustered - len({r.canon_id for r in keep})
    greedy_drops = sum(r.n_dropped for r in funnel)
    assert cc_drops >= greedy_drops


def test_cc_transitive_vs_greedy_keep(spark):
    # every clustered doc except one representative per cluster is dropped;
    # transitive closure can only merge clusters vs the greedy pair drop
    row = dedup.dedup_cc_keep(spark, SF_SMALL).first()
    assert row.n_kept + row.n_clustered - row.n_clusters == \
        dedup.load_table(spark, SF_SMALL, "documents").count()
    labels = dedup.dedup_cc_labels(spark, SF_SMALL).collect()
    by_cluster = {}
    for r in labels:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    for cid, members in by_cluster.items():
        assert cid == min(members)
        assert len(members) >= 2


def test_pii_scrub_planted_fixtures(spark, duck):
    from otel_arrow_collector_spark.operators.text import (
        EMAIL_RE, PHONE_RE, scrub_pii)
    from pyspark.sql import functions as F
    rows = [
        ("contact me at jane.doe+x@example.co.uk today", 1, 0),
        ("call +1 555-867-5309 or 212-555-0123 now", 0, 2),
        ("a@b.io and 310 555-1234 mixed", 1, 1),
        ("no pii here at all", 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], "text string")
    got = df.select(
        F.regexp_count("text", F.lit(EMAIL_RE)).alias("e"),
        F.regexp_count("text", F.lit(PHONE_RE)).alias("p"),
        scrub_pii(F.col("text")).alias("s")).collect()
    for (txt, e, p), r in zip(rows, got):
        assert (r.e, r.p) == (e, p), txt
        assert "@" not in r.s and "555" not in r.s or (e, p) == (0, 0)
    # cross-engine: DuckDB scrubs to the identical bytes
    for (txt, _, _), r in zip(rows, got):
        dd = duck.execute(
            "SELECT regexp_replace(regexp_replace(?, ?, '<EMAIL>', 'g'),"
            " ?, '<PHONE>', 'g')", [txt, EMAIL_RE, PHONE_RE]).fetchone()[0]
        assert dd == r.s


def test_stratified_sampling_laws(spark):
    from otel_arrow_collector_spark.operators.sampling import (
        sample_split, sample_stratified)
    strat = {r.lang: r for r in sample_stratified(spark, SF_SMALL).collect()}
    split = sample_split(spark, SF_SMALL).collect()
    # realized rates land near 25% (16-bit hash, small-n tolerance)
    for lang, r in strat.items():
        assert 0 <= r.n_sampled <= r.n_total
    total = sum(r.n_total for r in strat.values())
    assert sum(r.n_docs for r in split) == total      # split partitions corpus
    by_lang = {}
    for r in split:
        by_lang.setdefault(r.lang, set()).add(r.split)
        assert r.split in ("train", "val", "test")
    # determinism: same result on re-run (pure hash, no RNG)
    again = {r.lang: r.n_sampled
             for r in sample_stratified(spark, SF_SMALL).collect()}
    assert again == {k: v.n_sampled for k, v in strat.items()}


def test_repetition_detects_planted_boilerplate(spark):
    from otel_arrow_collector_spark.operators import text as T
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "all words here are fully distinct tokens")],
        "doc_id long, text string")
    ws = F.split("text", " ")
    n = F.size(ws)
    word_rep = F.lit(1.0) - F.size(F.array_distinct(ws)).cast("double") / n
    got = {r.doc_id: r.wr for r in
           df.select("doc_id", F.round(word_rep, 4).alias("wr")).collect()}
    assert got[1] > 0.8 and got[2] == 0.0


# ---------------------------------------------------------------------------
# curation operators (packing / contamination / shuffle layout)
# ---------------------------------------------------------------------------

def test_pack_sequences_laws(spark):
    import math
    from otel_arrow_collector_spark.operators.curation import (SEQ_LEN,
                                                               pack_sequences)
    from otel_arrow_collector_spark.sources.tables import load_table
    rows = pack_sequences(spark, SF_SMALL).collect()
    n_docs_total = load_table(spark, SF_SMALL, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    for r in rows:
        # n sequences is exactly the token total chunked at SEQ_LEN
        assert r.n_seqs == math.ceil(r.total_tokens / SEQ_LEN)
        assert 0 < r.fill <= 1.0
        # each of the n_seqs-1 interior boundaries is crossed by <= 1 doc
        assert 0 <= r.n_straddlers <= r.n_seqs - 1


def test_contamination_screen_planted(spark, tmp_path):
    from otel_arrow_collector_spark.operators.curation import \
        contamination_screen
    # benchmark doc (src0) + a verbatim copy in the corpus (src1) + one
    # disjoint doc: only the copy must be flagged, with overlap 1.0
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon", "en", "src0", 30),
         (2, "alpha beta gamma delta epsilon", "en", "src1", 30),
         (3, "one two three four five six", "en", "src1", 27)],
        "doc_id long, text string, lang string, source string, n_chars long")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = contamination_screen(spark, str(tmp_path)).collect()
    assert [r.doc_id for r in got] == [2]
    assert got[0].overlap == 1.0 and got[0].n_hit == got[0].n_sh


def test_shuffle_shards_layout(spark):
    from otel_arrow_collector_spark.operators.curation import shuffle_shards
    rows = shuffle_shards(spark, SF_SMALL).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        # per-shard positions are a contiguous 1..k prefix of the order
        assert [x.pos for x in rs] == list(range(1, len(rs) + 1))
    # deterministic: identical on re-run (pure md5 keys, no RNG)
    assert rows == shuffle_shards(spark, SF_SMALL).collect()


def test_bpe_tokens_planted_punctuation(spark, duck):
    # engine and oracle agree on a text where regex tokens != ws tokens
    from otel_arrow_collector_spark.operators.text import _BPE_PATTERN
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(1, "don't stop me now, it's 2024!")],
                               "doc_id long, text string")
    n = df.select(F.expr(f"regexp_count(text, '{_BPE_PATTERN}')").alias("n")
                  ).first().n
    d = duck.execute(
        "SELECT len(regexp_extract_all(?, ?))",
        ["don't stop me now, it's 2024!", _BPE_PATTERN]).fetchone()[0]
    # don|'|t stop me now|,| it|'|s 2024|! -> 12 regex tokens, 6 ws tokens
    assert n == d == 12


def test_ivf_multiprobe_dominates_single_probe(spark):
    # probing 2 cells can only improve (or tie) the top-k vs nprobe=1:
    # per query and rank, multiprobe cos >= single-probe cos
    from otel_arrow_collector_spark.operators.similarity import (
        ann_ivf_multiprobe, ann_ivf_probe)
    single = {(r.q_id, r.rk): r.cos
              for r in ann_ivf_probe(spark, SF_SMALL).collect()}
    multi = {(r.q_id, r.rk): r.cos
             for r in ann_ivf_multiprobe(spark, SF_SMALL).collect()}
    assert set(single) == set(multi)
    for key, cos1 in single.items():
        assert multi[key] >= cos1


def test_quantize_int8_fidelity_laws(spark):
    # int8 symmetric quantization on unit-scale vectors: near-perfect
    # cosine fidelity, small positive MSE, max quant step = scale/2
    from otel_arrow_collector_spark.operators.similarity import \
        embedding_quantize_int8
    rows = embedding_quantize_int8(spark, SF_SMALL).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.scale > 0
        assert 0 <= r.mse <= (r.scale / 2) ** 2    # per-dim error bound
        assert r.cos_fidelity > 0.999


def test_bigram_lm_laws(spark):
    # Laplace-smoothed probabilities are in (0,1]; OOV bigrams bounded by
    # total; training-sample docs (doc_id % MOD == 0) have zero OOV
    from otel_arrow_collector_spark.operators.text import (LM_TRAIN_MOD,
                                                           text_bigram_lm)
    rows = text_bigram_lm(spark, SF_SMALL).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 < r.avg_p <= 1.0
        assert 0 <= r.n_oov <= r.n_bigrams
        if r.doc_id % LM_TRAIN_MOD == 0:
            assert r.n_oov == 0   # its own bigrams are in the model


def test_substring_dedup_finds_planted_passages(spark):
    # every reported passage must verifiably appear in >= 2 docs
    from otel_arrow_collector_spark.operators.dedup import (PASSAGE_LEN,
                                                            dedup_substring)
    rows = dedup_substring(spark, SF_SMALL).collect()
    assert len(rows) > 0, "synthetic corpus plants near-dups; none found"
    docs = {r.doc_id: r.text for r in
            spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()}
    for r in rows[:20]:
        assert len(r.passage.split(" ")) == PASSAGE_LEN
        holders = [d for d, t in docs.items() if r.passage in t]
        assert len(holders) >= 2, (r.passage, holders)


def test_curation_pipeline_funnel_laws(spark):
    # each gate's pass-count is <= total; the intersection is <= every
    # individual gate; totals match the corpus
    from otel_arrow_collector_spark.operators.curation import \
        curation_pipeline
    rows = curation_pipeline(spark, SF_SMALL).collect()
    total = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert sum(r.n_total for r in rows) == total
    for r in rows:
        for gate in (r.n_quality, r.n_lowrep, r.n_clean, r.n_unique):
            assert 0 <= gate <= r.n_total
            assert r.n_kept <= gate
        assert r.tok_kept >= r.n_kept   # every doc has >= 1 token


def test_ann_recall_in_unit_range_and_consistent(spark):
    from otel_arrow_collector_spark.operators.similarity import (
        PROBE_IDS, PROBE_K, ann_recall_report)
    rows = ann_recall_report(spark, SF_SMALL).collect()
    assert [r.q_id for r in rows] == sorted(PROBE_IDS)
    for r in rows:
        assert 0 <= r.n_hits <= PROBE_K
        assert abs(r.recall - round(r.n_hits / PROBE_K, 4)) < 1e-9


# --- PCA over the embedding corpus -----------------------------------------

def test_pca_matches_numpy_reference(spark):
    """Distributed covariance + driver eigh must equal straight numpy PCA
    on the collected corpus: same components (up to pinned sign), same
    projections."""
    import numpy as np
    from otel_arrow_collector_spark.operators.similarity import (pca_project,
                                                                 pca_train)
    from otel_arrow_collector_spark.sources.tables import load_table

    mean, comps, evar = pca_train(spark, SF_SMALL, k=4)
    rows = load_table(spark, SF_SMALL, "embeddings") \
        .select("vec_id", "embedding").collect()
    x = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    ref_mean = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:4]
    assert np.allclose(mean, ref_mean, atol=1e-9)
    assert np.allclose(sorted(evar, reverse=True),
                       sorted(vals[order], reverse=True), atol=1e-7)
    for got, idx in zip(comps, order):
        ref = vecs[:, idx]
        got = np.array(got)
        # same axis up to sign
        assert min(np.abs(got - ref).max(), np.abs(got + ref).max()) < 1e-7
    # projections match numpy
    proj = {r.vec_id: np.array(r.proj)
            for r in pca_project(spark, SF_SMALL, k=4).collect()}
    c = np.array(comps)
    for r in rows[:20]:
        want = (np.array(list(r.embedding)) - mean) @ c.T
        assert np.allclose(proj[r.vec_id], want, atol=1e-9)


def test_pca_components_orthonormal_and_deterministic(spark):
    import numpy as np
    from otel_arrow_collector_spark.operators.cache_registry import _ENTRIES
    from otel_arrow_collector_spark.operators.similarity import pca_train
    _, comps_a, _ = pca_train(spark, SF_SMALL, k=6)
    for k in [k for k in _ENTRIES if k[0] == "sim.pca"]:
        del _ENTRIES[k]
    _, comps_b, _ = pca_train(spark, SF_SMALL, k=6)
    assert comps_a == comps_b                   # bit-identical rebuild
    c = np.array(comps_a)
    assert np.allclose(c @ c.T, np.eye(6), atol=1e-9)


def test_pca_fidelity_tracks_dropped_variance(spark):
    """MSE of a k-dim reconstruction == mean of the dropped eigenvalues
    (the PCA optimality identity) and decreases with k."""
    import numpy as np
    from otel_arrow_collector_spark.operators.similarity import pca_fidelity
    f4 = pca_fidelity(spark, SF_SMALL, k=4)
    f16 = pca_fidelity(spark, SF_SMALL, k=16)
    assert f16["mse"] < f4["mse"]
    from otel_arrow_collector_spark.operators.similarity import pca_train
    _, _, evar_all = pca_train(spark, SF_SMALL, k=64)
    dropped = sum(evar_all[4:]) / 64            # per-element MSE
    assert f4["mse"] == pytest.approx(dropped, rel=1e-6)


def test_image_codec_vectorized_speed():
    """The numpy unfilter/luma path decodes a 256x256 PNG in milliseconds;
    the scalar per-byte loops it replaced took hundreds of ms.  A generous
    100 ms budget fails loudly if someone reverts to per-byte Python."""
    import time

    import numpy as np

    from otel_arrow_collector_spark.operators.multimodal import (decode_bmp,
                                                                 decode_png,
                                                                 encode_bmp,
                                                                 encode_png)
    rng = np.random.RandomState(7)
    pix = rng.randint(0, 256, 3 * 256 * 256, dtype=np.uint8).tobytes()
    png, bmp = encode_png(pix, 256, 256), encode_bmp(pix, 256, 256)
    fp = decode_png(png)                        # warm-up (imports, JIT-ish)
    fb = decode_bmp(bmp)
    assert (fp["width"], fp["height"]) == (256, 256)
    assert fp["mean_luma"] == fb["mean_luma"]   # same pixels, same stat
    # min-of-3 under a generous budget: vectorized is single-digit ms solo;
    # the per-byte loops this guards against took hundreds of ms. The slack
    # absorbs CI load (the sharded runner packs 5 concurrent workers).
    dt = min(_timed(decode_png, png, decode_bmp, bmp) for _ in range(3))
    assert dt < 0.25, f"decode took {dt*1e3:.0f} ms — vectorization regressed"


def _timed(f1, a1, f2, a2):
    import time
    t0 = time.perf_counter()
    f1(a1)
    f2(a2)
    return time.perf_counter() - t0


def test_mp4_mjpeg_mux_demux_all_chunkings():
    """encode_mp4_mjpeg -> decode_mp4_frames is byte-exact for every
    chunk layout (stsc run compression + stco per-chunk offsets), and the
    container's own metadata parse agrees on geometry/duration."""
    from otel_arrow_collector_spark.operators.jpeg import encode_jpeg
    from otel_arrow_collector_spark.operators.multimodal import (
        decode_mp4_frames, decode_mp4_meta, encode_mp4_mjpeg)
    frames = [encode_jpeg(bytes([v] * 3) * (16 * 8), 16, 8, quality=76)
              for v in range(0, 250, 36)]                    # 7 frames
    for fpc in (None, 1, 2, 3, 5, 7, 100):
        mp4 = encode_mp4_mjpeg(frames, 16, 8, fps=5, frames_per_chunk=fpc)
        w, h, got = decode_mp4_frames(mp4)
        assert (w, h) == (16, 8) and got == frames, fpc
    meta = decode_mp4_meta(encode_mp4_mjpeg(frames, 16, 8, fps=5))
    assert (meta["width"], meta["height"]) == (16, 8)
    assert meta["duration_ms"] == 7 * 200                    # 5 fps


def test_mp4_compressed_codec_stays_loud():
    """A non-MJPEG sample entry (avc1) raises — compressed video needs
    pyav, and silent garbage extraction would be worse than failing."""
    import pytest as _pytest

    from otel_arrow_collector_spark.operators.multimodal import (
        decode_mp4_frames, encode_mp4_mjpeg)
    mp4 = bytearray(encode_mp4_mjpeg([b"xx"], 4, 4))
    i = mp4.find(b"jpeg", mp4.find(b"stsd"))
    mp4[i:i + 4] = b"avc1"
    with _pytest.raises(NotImplementedError, match="pyav"):
        decode_mp4_frames(bytes(mp4))


def test_sample_frames_real_mp4_path(spark):
    """sample_frames takes the REAL stbl demux path for MP4 payloads:
    emitted frames are the complete original JPEGs, every_n applied."""
    import pandas as pd

    from otel_arrow_collector_spark.operators.jpeg import encode_jpeg
    from otel_arrow_collector_spark.operators.multimodal import (
        encode_mp4_mjpeg, sample_frames)
    frames = [encode_jpeg(bytes([v] * 3) * (8 * 8), 8, 8, quality=76)
              for v in (10, 20, 30, 40, 50)]
    mp4 = encode_mp4_mjpeg(frames, 8, 8, frames_per_chunk=2)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [mp4], "mime": ["video/mp4"]}))
    out = {r.frame_idx: bytes(r.frame)
           for r in sample_frames(df, every_n=2).collect()}
    assert sorted(out) == [0, 2, 4]
    assert out[0] == frames[0] and out[2] == frames[2] and out[4] == frames[4]


def test_bpe_distributed_trainer_matches_reference(spark):
    """The distributed BPE trainer (per-round Spark pair-count agg +
    driver argmax) must produce EXACTLY the merge table of the textbook
    pure-Python trainer on the same sample — same counts, same
    lexicographic tie-break."""
    from otel_arrow_collector_spark.operators.bpe import (
        train_bpe, train_bpe_reference, word_frequencies)
    merges = train_bpe(spark, SF_SMALL, n_merges=6)
    vocab = [(r.word, int(r.freq))
             for r in word_frequencies(spark, SF_SMALL).collect()]
    assert merges == train_bpe_reference(vocab, 6)
    assert len(merges) == 6


def test_bpe_apply_golden_and_encode_df(spark):
    """Merge application is the GPT-2 bpe() shape: rank-ordered greedy
    merges with the </w> boundary sentinel; executor-side encoding
    preserves rows and token counts are consistent."""
    from otel_arrow_collector_spark.operators.bpe import (EOW, apply_bpe,
                                                          bpe_encode_df)
    from otel_arrow_collector_spark.sources.tables import load_table
    merges = [("e", "r"), ("e", EOW), ("er", EOW)]
    toks = apply_bpe("er here", merges)
    # "er" -> e r </w> -> (e,r)->er -> (er,</w>)->er</w>
    # "here" -> h e r e </w> -> h er e</w>
    assert toks == ["er</w>", "h", "er", "e</w>"]
    docs = load_table(spark, SF_SMALL, "documents").limit(20)
    out = bpe_encode_df(docs, merges).collect()
    assert len(out) == 20
    assert all(r.n_tokens == len(r.tokens) > 0 for r in out)
    again = {r.doc_id: r.tokens for r in
             bpe_encode_df(docs, merges).collect()}
    assert all(again[r.doc_id] == r.tokens for r in out)


def test_video_thumbnails_end_to_end(spark):
    """MP4 demux -> per-frame JPEG decode -> fixed-size thumbnails: the
    video half of a vision-training corpus pass; solid-gray frames at
    quality 76 give exact thumbnail values."""
    import pandas as pd

    from otel_arrow_collector_spark.operators.jpeg import encode_jpeg
    from otel_arrow_collector_spark.operators.multimodal import (
        encode_mp4_mjpeg, video_thumbnails)
    frames = [encode_jpeg(bytes([v] * 3) * (16 * 16), 16, 16, quality=76)
              for v in (10, 60, 110, 160, 210)]
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [5], "payload": [encode_mp4_mjpeg(frames, 16, 16)],
        "mime": ["video/mp4"]}))
    out = {r.frame_idx: r for r in
           video_thumbnails(df, every_n=2, width=4, height=4).collect()}
    assert sorted(out) == [0, 2, 4]
    for idx, want in [(0, 10), (2, 110), (4, 210)]:
        r = out[idx]
        assert (r.width, r.height) == (4, 4)
        assert set(r.thumbnail) == {want} and len(r.thumbnail) == 48


def test_bmp_palette_and_32bit_variants():
    """The non-24-bit BI_RGB depths are real now: 8-bit palette rows
    index the BGRA color table; 32-bit rows drop the alpha byte; both
    agree with the equivalent 24-bit encode on geometry, luma, and the
    top-down RGB raster.  Compressed rasters stay loud."""
    import struct as _s
    import pytest as _pt
    from otel_arrow_collector_spark.operators.multimodal import (
        _bmp_pixels, decode_bmp, encode_bmp)

    # ground truth: a 3x2 24-bit image (BGR triples, bottom-up rows)
    rows_bu = [[(10, 20, 30), (40, 50, 60), (70, 80, 90)],
               [(5, 15, 25), (35, 45, 55), (65, 75, 85)]]
    flat = bytes(v for row in rows_bu for px in row for v in px)
    ref = decode_bmp(encode_bmp(flat, 3, 2))
    ref_px = _bmp_pixels(encode_bmp(flat, 3, 2))

    def headers(bpp, img_bytes, n_colors=0, clr_used=0):
        info = _s.pack("<IiiHHIIiiII", 40, 3, 2, 1, bpp, 0,
                       len(img_bytes), 2835, 2835, clr_used, 0)
        off = 14 + 40 + 4 * n_colors
        hdr = _s.pack("<2sIHHI", b"BM", off + len(img_bytes), 0, 0, off)
        return hdr + info

    # 8-bit palette: 6 distinct colors, one index per pixel, rows padded
    colors = [px for row in rows_bu for px in row]
    table = b"".join(bytes(c) + b"\x00" for c in colors)
    idx_rows = b"".join(bytes(range(r * 3, r * 3 + 3)) + b"\x00"
                        for r in range(2))          # pad 3 -> 4
    bmp8 = headers(8, idx_rows, n_colors=6, clr_used=6) + table + idx_rows
    got8 = decode_bmp(bmp8)
    assert (got8["width"], got8["height"], got8["mean_luma"]) == \
        (ref["width"], ref["height"], ref["mean_luma"])
    assert _bmp_pixels(bmp8) == ref_px

    # 32-bit BGRA with junk alpha
    px32 = b"".join(bytes(px) + b"\xaa" for row in rows_bu for px in row)
    bmp32 = headers(32, px32) + px32
    got32 = decode_bmp(bmp32)
    assert got32["mean_luma"] == ref["mean_luma"]
    assert _bmp_pixels(bmp32) == ref_px

    # compressed (BI_RLE8) refuses loudly
    info = _s.pack("<IiiHHIIiiII", 40, 3, 2, 1, 8, 1,
                   len(idx_rows), 2835, 2835, 6, 0)
    rle = _s.pack("<2sIHHI", b"BM", 14 + 40 + 24 + len(idx_rows), 0, 0,
                  14 + 40 + 24) + info + table + idx_rows
    with _pt.raises(NotImplementedError, match="BI_RGB"):
        _bmp_pixels(rle)


def test_exif_build_parse_scrub_laws():
    """EXIF walker laws: round-trip of every injected field, big-endian
    (MM) TIFF bodies parse, non-Exif APP1 (XMP) segments survive the
    scrub, and scrubbing is idempotent + exact (byte-identical to the
    pre-injection file)."""
    import struct as _s
    from otel_arrow_collector_spark.operators.jpeg import encode_jpeg
    from otel_arrow_collector_spark.operators.multimodal import (
        build_exif_app1, parse_exif, scrub_exif)

    base = encode_jpeg(bytes([99] * (3 * 64)), 8, 8)
    app1 = build_exif_app1(6, "2023:12:31 23:59:59", gps=True)
    tagged = base[:2] + app1 + base[2:]
    meta = parse_exif(tagged)
    assert meta == {"orientation": 6, "datetime": "2023:12:31 23:59:59",
                    "has_gps": True}
    assert parse_exif(base) is None
    scrubbed = scrub_exif(tagged)
    assert scrubbed == base
    assert scrub_exif(scrubbed) == scrubbed          # idempotent

    # big-endian TIFF body: same fields, MM byte order
    dt = b"2020:05:06 07:08:09\x00"
    ifd = (_s.pack(">H", 2)
           + _s.pack(">HHI", 0x0112, 3, 1) + _s.pack(">HH", 3, 0)
           + _s.pack(">HHII", 0x0132, 2, 20, 8 + 2 + 24 + 4)
           + _s.pack(">I", 0))
    body = b"MM" + _s.pack(">HI", 42, 8) + ifd + dt
    payload = b"Exif\x00\x00" + body
    seg = b"\xff\xe1" + _s.pack(">H", len(payload) + 2) + payload
    mm = parse_exif(base[:2] + seg + base[2:])
    assert mm == {"orientation": 3, "datetime": "2020:05:06 07:08:09",
                  "has_gps": False}

    # a non-Exif APP1 (XMP) must NOT be scrubbed
    xmp_payload = b"http://xmp\x00"
    xmp = (b"\xff\xe1" + _s.pack(">H", len(xmp_payload) + 2)
           + xmp_payload)
    with_xmp = base[:2] + xmp + app1 + base[2:]
    out = scrub_exif(with_xmp)
    assert xmp in out and b"Exif\x00\x00" not in out


def test_waterfill_closed_form_matches_iterative(spark):
    """The closed-form waterfill equals the textbook iterative
    algorithm (raise the cap until the budget is spent), and spends
    within one cap-floor of the budget without exceeding it."""
    from otel_arrow_collector_spark.operators.curation import (
        WATERFILL_BUDGET_PERMILLE, budget_waterfill)
    rows = budget_waterfill(spark, SF_SMALL).collect()
    toks = {r.source: r.n_tok for r in rows}
    budget = sum(toks.values()) * WATERFILL_BUDGET_PERMILLE // 1000

    # iterative reference: grow the common cap one unit of "fill" at a
    # time over the sorted sizes (closed form per level, still the
    # textbook semantics)
    sizes = sorted(toks.values())
    n = len(sizes)
    spent, k = 0, 0
    while k < n and sizes[k] * (n - k) <= budget - spent:
        spent += sizes[k]
        k += 1
    cap = None if k == n else (budget - spent) // (n - k)
    order = sorted(toks.items(), key=lambda kv: (kv[1], kv[0]))
    want = {}
    for i, (s, t) in enumerate(order, start=1):
        want[s] = t if i <= k else cap
    got = {r.source: r.allocated for r in rows}
    assert got == want
    total_alloc = sum(got.values())
    assert total_alloc <= budget
    if cap is not None:
        assert budget - total_alloc < (n - k) or n == k
    assert all(r.capped == (got[r.source] != toks[r.source])
               or toks[r.source] == got[r.source] for r in rows)


def test_allpairs_prefix_is_exact_and_contains_lsh(spark):
    """dedup_allpairs_prefix is EXACT: (a) it contains every
    LSH-verified pair (LSH can only miss, never invent), and (b) it
    equals the brute-force result computed from ALL shared-shingle
    pairs (any J >= 0.5 pair shares a shingle, so the shd self-join is
    a complete candidate set — feasible at sf0.001 only)."""
    from pyspark.sql import functions as F

    exact = {(r.d1, r.d2) for r in
             dedup.dedup_allpairs_prefix(spark, SF_SMALL).collect()}
    lsh = {(r.d1, r.d2) for r in
           dedup.dedup_ngram_jaccard(spark, SF_SMALL).collect()}
    assert lsh <= exact

    shd = dedup._doc_shingle_sets(spark, SF_SMALL)
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    brute_pairs = (shd.alias("a").join(shd.alias("b"), "sh")
                   .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                   .groupBy(F.col("a.doc_id").alias("d1"),
                            F.col("b.doc_id").alias("d2"))
                   .agg(F.count(F.lit(1)).alias("c")))
    z1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    z2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    brute = {(r.d1, r.d2) for r in
             (brute_pairs.join(z1, "d1").join(z2, "d2")
              .filter(F.col("c") / (F.col("n1") + F.col("n2") - F.col("c"))
                      >= dedup.JACCARD_THRESHOLD)).collect()}
    assert exact == brute


def test_pca_components_match_numpy_direct(spark):
    """pca_components (the driver-side model step over the distributed
    exact-integer covariance) must match a brute-force numpy PCA on the
    same quantized block: same eigenvalues, same axes (up to sign,
    which the operator normalizes), and projecting the data onto the
    top component must reproduce its eigenvalue as the variance."""
    import numpy as np

    from otel_arrow_collector_spark.operators.similarity import (
        PCA_DIMS, PCA_Q, pca_components)
    from otel_arrow_collector_spark.sources.tables import load_table

    vals, comps = pca_components(spark, SF_SMALL, k=3)
    raw = np.array([r.embedding[:PCA_DIMS] for r in
                    load_table(spark, SF_SMALL, "embeddings").collect()])
    q = np.floor(raw.astype(np.float64) * PCA_Q + 0.5) / PCA_Q
    cov = np.cov(q, rowvar=False, bias=True)        # population cov
    dvals, dvecs = np.linalg.eigh(cov)
    order = np.argsort(dvals)[::-1][:3]
    for k_i, idx in enumerate(order):
        assert abs(vals[k_i] - dvals[idx]) < 1e-9
        # same axis up to sign
        assert abs(abs(float(np.dot(comps[k_i], dvecs[:, idx]))) - 1.0) \
            < 1e-9
    # projection variance onto the top axis == its eigenvalue
    proj = q @ np.array(comps[0])
    assert abs(proj.var() - vals[0]) < 1e-9
    assert vals[0] >= vals[1] >= vals[2] > 0


def test_cov_num_guard_fails_past_bigint(spark):
    """embedding_pca_covariance publishes its decimal(38,0) cov_num AS
    BIGINT through ``_checked_long``: a value past the BIGINT range
    fails the query (as DuckDB's cast does) instead of wrapping, and
    the range ends themselves pass through exactly."""
    from pyspark.sql import functions as F

    def run(v):
        df = spark.createDataFrame([(str(v),)], "v string")
        return df.select(similarity._checked_long(
            F.col("v").cast("decimal(38,0)"), "cov_num")).first()[0]

    assert run((1 << 63) - 1) == (1 << 63) - 1
    assert run(-(1 << 63)) == -(1 << 63)
    for v in ((1 << 63), -(1 << 63) - 1, 4 * 10 ** 27):
        with pytest.raises(Exception, match="cov_num leaves the BIGINT"):
            run(v)
