"""Extension-surface property tests: LSH recall vs exact oracles, SimHash
sketch behavior (SURVEY.md §2.10)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """Banded MinHash candidates must recover (almost all of) the exact
    high-Jaccard pairs — here we require full recall at j >= 0.7."""
    from odc_product_docker_images_spark.textvec.dedup import (
        dedup_minhash,
        dedup_ngram_jaccard,
    )

    exact = dedup_ngram_jaccard(spark, sf_dir).toPandas()
    approx = dedup_minhash(spark, sf_dir).toPandas()
    exact_hi = {(r.doc_a, r.doc_b) for r in exact.itertuples() if r.jaccard >= 0.7}
    got = {(r.doc_a, r.doc_b) for r in approx.itertuples()}
    assert exact_hi, "fixture should contain high-jaccard near-dups"
    missed = exact_hi - got
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_xxh64_port_matches_spark_xxhash64(spark):
    """The numpy XXH64 port behind the MinHash signature pass equals
    Spark's ``xxhash64`` on (int, long) — the K hash functions — and on
    four longs — the band signatures — at the edges and at random."""
    from pyspark.sql import functions as F

    from odc_product_docker_images_spark.textvec.dedup import (
        _XXH_SEED,
        _xxh64_int,
        _xxh64_long,
    )

    rng = np.random.default_rng(5)
    lmin, lmax, imin, imax = -(2**63), 2**63 - 1, -(2**31), 2**31 - 1
    longs = np.array(
        [0, 1, -1, lmin, lmax, *rng.integers(lmin, lmax, 27, dtype=np.int64)], np.int64
    )
    ints = np.array(
        [0, 1, -1, imin, imax, *rng.integers(imin, imax, 27, dtype=np.int32)], np.int32
    )
    cols = [longs, longs[::-1], np.roll(longs, 7), np.roll(longs, 13)]
    df = spark.createDataFrame(
        [tuple(int(c[k]) for c in (ints, *cols)) for k in range(len(longs))],
        "i int, a long, b long, c long, d long",
    )
    got = df.select(
        F.xxhash64("i", "a").alias("k"), F.xxhash64("a", "b", "c", "d").alias("band")
    ).collect()
    band = _XXH_SEED
    for c in cols:
        band = _xxh64_long(c, band)
    assert [r.k for r in got] == _xxh64_long(longs, _xxh64_int(ints, _XXH_SEED)).view(
        np.int64
    ).tolist()
    assert [r.band for r in got] == band.view(np.int64).tolist()


def test_minhash_arrow_bands_equal_row_form(spark, sf_dir):
    """The Arrow signature pass returns exactly the band signatures of the
    Catalyst row form it replaced: K rows per shingle of xxhash64(i, hs),
    a (doc_id, i) min-aggregate, and xxhash64 over each band's R minima
    in i order."""
    from pyspark.sql import functions as F

    from odc_product_docker_images_spark.io import load
    from odc_product_docker_images_spark.textvec.dedup import (
        _MH_K,
        _MH_R,
        _minhash_bands,
    )
    from odc_product_docker_images_spark.textvec.shingle import _shingles

    hs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_shingles()).alias("sh"))
        .select("doc_id", F.xxhash64("sh").alias("hs"))
    )
    mins = (
        hs.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(_MH_K - 1)),
                    lambda i: F.xxhash64(i, F.col("hs")),
                )
            ).alias("i", "h"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min("h").alias("mh"))
    )
    srt = F.array_sort(F.collect_list(F.struct("i", "mh")))
    row_form = (
        mins.withColumn("band", (F.col("i") / _MH_R).cast("int"))
        .groupBy("doc_id", "band")
        .agg(srt.alias("s"))
        .select(
            "doc_id",
            "band",
            F.xxhash64(*[F.col("s")[r]["mh"] for r in range(_MH_R)]).alias("sig"),
        )
    )
    arrow = (
        hs.groupBy("doc_id")
        .agg(F.collect_set("hs").alias("hs"))
        .mapInArrow(_minhash_bands, "doc_id long, band int, sig long")
    )
    want = sorted(tuple(r) for r in row_form.collect())
    assert want, "fixture should have shingled documents"
    assert sorted(tuple(r) for r in arrow.collect()) == want


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    from odc_product_docker_images_spark.textvec.dedup import dedup_embedding
    from odc_product_docker_images_spark.textvec.similarity import sim_ann_lsh

    exact = dedup_embedding(spark, sf_dir).toPandas()
    approx = sim_ann_lsh(spark, sf_dir).toPandas()
    exact_pairs = {(r.vec_a, r.vec_b) for r in exact.itertuples()}
    got = {(r.vec_a, r.vec_b) for r in approx.itertuples()}
    assert exact_pairs, "threshold should select a nonempty tail"
    recall = len(exact_pairs & got) / len(exact_pairs)
    assert recall >= 0.9, f"ANN recall too low: {recall:.2f}"
    # estimated cosine within rounding of the true one for common pairs
    merged = exact.merge(approx, left_on=["vec_a", "vec_b"], right_on=["vec_a", "vec_b"])
    assert (abs(merged["cosine"] - merged["est_cosine"]) < 1e-4).all()


def test_ann_ivf_recall_and_precision(spark, sf_dir):
    """IVF candidates are exact-verified → precision 1.0 vs brute force.
    The fixture's exact pairs all sit at cos 0.40-0.48 (nearly orthogonal
    — the WORST band for coarse quantization; there is no high-cosine
    tail to hide in), so the recall bound here is the honest hard-case
    floor for symmetric nprobe=3, not the near-dup figure."""
    from odc_product_docker_images_spark.textvec.dedup import dedup_embedding
    from odc_product_docker_images_spark.textvec.similarity_ivf import sim_ann_ivf

    exact = dedup_embedding(spark, sf_dir).toPandas()
    approx = sim_ann_ivf(spark, sf_dir).toPandas()
    exact_pairs = {(r.vec_a, r.vec_b) for r in exact.itertuples()}
    got = {(r.vec_a, r.vec_b) for r in approx.itertuples()}
    assert exact_pairs, "threshold should select a nonempty tail"
    assert got <= exact_pairs, "exact verification forbids false positives"
    recall = len(exact_pairs & got) / len(exact_pairs)
    assert recall >= 0.7, f"IVF hard-band recall too low: {recall:.2f}"
    # estimates agree with the exact cosine on common pairs
    merged = exact.merge(approx, on=["vec_a", "vec_b"])
    assert (abs(merged["cosine"] - merged["est_cosine"]) < 1e-4).all()


def test_ann_ivf_is_deterministic_above_the_fit_cap(spark, tmp_path):
    """Above ``_FIT_CAP`` vectors the k-means fit sees a share of them:
    two builds must fit on the same rows in the same order and return the
    same pairs (a ``sample()`` of the persisted frame drew a different
    share each run)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from odc_product_docker_images_spark.textvec.similarity_ivf import _FIT_CAP, sim_ann_ivf

    n = _FIT_CAP + 904
    emb = np.random.default_rng(904).normal(0.0, 0.15, (n, 64)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(np.zeros(n, dtype=np.int32)),
    })
    out = tmp_path / "embeddings.parquet"
    out.mkdir()
    # two files, as the generated inputs have
    for i, part in enumerate((table.slice(0, n // 2), table.slice(n // 2))):
        pq.write_table(part, out / f"part-{i:05d}.parquet")
    first, second = (
        frozenset(map(tuple, sim_ann_ivf(spark, str(tmp_path)).collect())) for _ in range(2)
    )
    assert first and first == second


def test_simhash_is_deterministic_and_locality_sensitive(spark, sf_dir):
    from odc_product_docker_images_spark.textvec.dedup import dedup_simhash

    a = dedup_simhash(spark, sf_dir).toPandas().set_index("doc_id").sort_index()
    b = dedup_simhash(spark, sf_dir).toPandas().set_index("doc_id").sort_index()
    assert (a["simhash"] == b["simhash"]).all()  # deterministic across runs

    # identical token sets → identical signature (reference property)
    def simhash_py(text: str) -> int:
        acc = np.zeros(64, dtype=np.int64)
        for tok in set(text.split(" ")):
            h = hashlib.md5(tok.encode()).digest()[:8]
            bits = np.unpackbits(np.frombuffer(h, dtype=np.uint8), bitorder="little")
            acc += 2 * bits.astype(np.int64) - 1
        return int(np.packbits(acc > 0, bitorder="little").view(np.int64)[0])

    from odc_product_docker_images_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    sample = docs.sample(n=50, random_state=0)
    for _, row in sample.iterrows():
        assert a.loc[row["doc_id"], "simhash"] == simhash_py(row["text"])


def test_near_dup_pairs_have_close_simhash(spark, sf_dir):
    """Locality: the exact near-dup pairs (jaccard >= 0.7) should sit at a
    much smaller Hamming distance than random pairs."""
    from odc_product_docker_images_spark.textvec.dedup import (
        dedup_ngram_jaccard,
        dedup_simhash,
    )

    sigs = dedup_simhash(spark, sf_dir).toPandas().set_index("doc_id")["simhash"]
    pairs = dedup_ngram_jaccard(spark, sf_dir).toPandas()
    hi = pairs[pairs["jaccard"] >= 0.7]
    assert len(hi) > 0

    def ham(x, y) -> int:
        return bin((int(x) ^ int(y)) & ((1 << 64) - 1)).count("1")

    near = np.mean([ham(sigs[r.doc_a], sigs[r.doc_b]) for r in hi.itertuples()])
    rng = np.random.default_rng(0)
    ids = sigs.index.to_numpy()
    rand = np.mean(
        [ham(sigs[a], sigs[b]) for a, b in rng.choice(ids, size=(200, 2)) if a != b]
    )
    assert near < rand / 2, f"simhash not locality-sensitive: near={near} rand={rand}"


def test_multimodal_decode_batch_shape(spark, sf_dir):
    from odc_product_docker_images_spark.multimodal.columns import (
        _PGM_W,
        multimodal_decode,
    )

    out = multimodal_decode(spark, sf_dir).toPandas()
    assert len(out) == 500
    assert (out["width"] == _PGM_W).all()
    assert (out["channels"] == 1).all()
    # the raster is padded to full rows: n_pixel_bytes = width * height
    assert (out["n_pixel_bytes"] == out["width"] * out["height"]).all()
    # real decode: rerun → identical
    again = multimodal_decode(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("doc_id").reset_index(drop=True),
        again.sort_values("doc_id").reset_index(drop=True),
    )


def test_pgm_decoder_roundtrip():
    from odc_product_docker_images_spark.multimodal.columns import _decode_pgm

    raster = bytes(range(6)) + b" \n\t..."  # whitespace INSIDE the raster
    w, h, c, r = _decode_pgm(b"P5\n4 3\n255\n" + raster)
    assert (w, h, c) == (4, 3, 1)
    assert r == raster
    # multi-whitespace header separators are legal netpbm
    w, h, c, r = _decode_pgm(b"P5  \n 2\t2 \n255 " + b"abcd")
    assert (w, h, c, r) == (2, 2, 1, b"abcd")
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        _decode_pgm(b"\x89PNG....")
    with _pytest.raises(NotImplementedError):
        _decode_pgm(b"P5\n2 2\n65535\nxxxxxxxx")


def test_wav_decoder_walks_chunks():
    """The packer plants a LIST chunk before data; a fixed-offset reader
    (data at byte 44) would mis-slice — the parser must walk chunks."""
    import struct

    import pytest as _pytest

    from odc_product_docker_images_spark.multimodal.columns import (
        _WAV_BITS,
        _WAV_RATE,
        _decode_wav,
        _pack_wav,
    )

    pcm = struct.pack("<4h", 100, -200, 300, -32768)
    rate, channels, bits, data = _decode_wav(_pack_wav(pcm))
    assert (rate, channels, bits) == (_WAV_RATE, 1, _WAV_BITS)
    assert data == pcm
    # odd-size chunks pad to even (RIFF rule): plant one before data
    payload = _pack_wav(pcm)
    odd = b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"  # 3-byte body + pad
    patched = payload[:12] + odd + payload[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert _decode_wav(patched)[3] == pcm
    with _pytest.raises(NotImplementedError):
        _decode_wav(b"OggS" + bytes(40))
    # non-PCM format tag = compressed codec → honest stub
    bad_fmt = struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 4)  # ADPCM
    bad = (b"RIFF" + struct.pack("<I", 24) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt)
    with _pytest.raises(NotImplementedError):
        _decode_wav(bad)


def test_bmp_decoder_flips_rows_and_skips_padding():
    import struct

    import numpy as np
    import pytest as _pytest

    from odc_product_docker_images_spark.multimodal.columns import (
        _BMP_A,
        _BMP_B,
        _BMP_C,
        _BMP_H,
        _BMP_W,
        _decode_bmp,
        _pack_bmp,
    )

    width, height, bpp, px = _decode_bmp(_pack_bmp(7))
    assert (width, height, bpp) == (_BMP_W, _BMP_H, 24)
    assert len(px) == _BMP_W * _BMP_H * 3  # pad bytes excluded
    # logical top-down stream matches the synth formula directly
    k = np.arange(_BMP_W * _BMP_H * 3, dtype=np.int64)
    want = ((7 * _BMP_A + (k // 3) * _BMP_B + (k % 3) * _BMP_C) % 256).astype(np.uint8)
    assert px == want.tobytes()
    with _pytest.raises(NotImplementedError):
        _decode_bmp(b"GIF89a" + bytes(40))
    # RLE compression tag → honest stub
    payload = bytearray(_pack_bmp(7))
    payload[30:34] = struct.pack("<I", 1)  # BI_RLE8
    with _pytest.raises(NotImplementedError):
        _decode_bmp(bytes(payload))


def test_png_codec_is_spec_real():
    """The PNG key's decode path must be a real codec, not a lookup of the
    encoder's intermediates: CRC corruption is detected, every filter type
    actually round-trips, and truncating one IDAT byte breaks inflate."""
    import zlib

    import numpy as np
    import pytest as _pt

    from odc_product_docker_images_spark.multimodal.png import (
        _decode_png,
        _pack_png,
        _synth_raster,
    )

    payload = _pack_png(321)
    w, h, depth, ctype, px = _decode_png(payload)
    assert (w, h, depth, ctype) == (16, 10, 8, 2)
    assert np.array_equal(np.frombuffer(px, np.uint8), _synth_raster(321))
    # 10 rows cycle filters 0..4 twice — all five unfilter branches ran.

    # flip one bit inside the first IDAT chunk -> CRC check must fire
    corrupt = bytearray(payload)
    idat_off = payload.index(b"IDAT") + 4  # first data byte
    corrupt[idat_off] ^= 0x01
    with _pt.raises(ValueError, match="CRC"):
        _decode_png(bytes(corrupt))

    # non-PNG magic -> NotImplementedError (the honest-codec contract)
    with _pt.raises(NotImplementedError):
        _decode_png(b"GIF89a" + payload[6:])


def test_heavy_hitters_mg_guarantees(spark, sf_dir):
    """Misra-Gries guarantees vs exact counts: (a) never overestimates,
    (b) total error <= n/(K+1) per item, (c) every true heavy hitter
    (count > n/(K+1)) survives, (d) summary size <= K."""
    import pyspark.sql.functions as F

    from odc_product_docker_images_spark.io import load
    from odc_product_docker_images_spark.textvec.heavyhitters import (
        K,
        text_heavy_hitters,
    )

    got = {
        r["token"]: r["est_count"]
        for r in text_heavy_hitters(spark, sf_dir).collect()
    }
    assert 0 < len(got) <= K
    exact = {
        r["token"]: r["n"]
        for r in load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = sum(exact.values())
    bound = n / (K + 1)
    for t, est in got.items():
        assert t in exact
        assert est <= exact[t], f"{t}: overestimate {est} > {exact[t]}"
        assert exact[t] - est <= bound, f"{t}: error beyond n/(K+1)"
    for t, c in exact.items():
        if c > bound:
            assert t in got, f"true heavy hitter {t} ({c} > {bound:.1f}) missing"
