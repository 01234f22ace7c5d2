"""Media-container and codec queries (m8–m31): the multimodal
surface, every format implemented stdlib-only in ``multimodal/``.

Containers: MP4/ISO-BMFF (m8/m8b/m16), TAR WebDataset (m13), GIF
(m17), RIFF/WAVE incl. mu-law format 7 (m10/m23), MP3 with ID3v2
(m26), FLAC with CRC-verified frames, the STREAMINFO PCM MD5, all
four subframe types incl. LPC (m28) and stereo channel decorrelation
(m30), gzip members through the from-scratch RFC 1951 inflate (m29),
LZMA members through the from-scratch range coder (m31). Image codecs: PPM, PNG (incl. interlaced), BMP, baseline /
4:2:0 / progressive / 12-bit / arithmetic JPEG (m3–m5, m9, m11/m12,
m15, m18/m19), EXIF TIFF-IFD metadata (m24), strip-based TIFF with
early-change LZW (m27). Video: H.264 I_PCM
(m20), Intra_16x16 CAVLC (m21) and I_4x4 CAVLC (m25) — complete
CAVLC I-frame coverage. Documents: PDF text extraction (m22).

What remains gated on external codecs (decoder='ffmpeg' in
``multimodal/binaryops.py``): H.264 I_8x8/CABAC/inter frames and MP3
subband payload decode — the same header/payload split the reference
draws at its own binary boundary (ssm_loop.py:40 decodes NIfTI
headers+voxels, never scanner k-space).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from neuroimaging_data_pipeline_spark.sources.tables import read_table


def m8_mp4_meta(spark, sf_dir):
    """M8: REAL MP4 container metadata (multimodal/mp4.py).

    Per document, a genuine ISO-BMFF file (ftyp + two-chunk mdat +
    free + moov with run-length stts, two-entry stsc, per-sample
    stsz, two-offset stco) is built from pure integer formulas,
    carried as an opaque binary column, then parsed by the real
    box-walking decoder inside Arrow-batched map_rows.
    payload_sum re-reads every sample's bytes at the stsc/stsz/stco-
    resolved absolute offset, so ANY error across the whole sample-
    table chain (box framing, run-length expansion, chunk mapping,
    offsets) breaks the hash match against the formula-recomputing
    oracle."""
    from neuroimaging_data_pipeline_spark.multimodal.mp4 import (
        mp4_meta_features,
        synthesize_mp4_clips,
    )

    # single-row-group documents scan -> "auto" width: light metadata
    # parse, measured fastest at single-digit widths (r7 A/B in
    # BENCH_DELTA.md; heavy pixel/entropy codecs keep "cores")
    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_mp4_clips(d, id_col="doc_id")
    feats = mp4_meta_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "n_tracks",
        "handler",
        "timescale",
        "duration",
        "n_samples",
        "total_sample_bytes",
        "payload_sum",
    )


# mirrors _sample_plan / _sample_payload in multimodal/mp4.py:
# n = 4 + doc_id % 5; dur_i = 100 + (((doc_id + i) // 2) % 3)*50;
# sz_i = 8 + ((doc_id*13 + i*7) % 9); byte_j = (doc_id*31 + i*101 + j*7) % 256
M8_SQL = """
WITH s AS (
  SELECT doc_id, i.i AS i,
         100 + (((doc_id + i.i) // 2) % 3) * 50 AS dur,
         8 + ((doc_id * 13 + i.i * 7) % 9) AS sz
  FROM documents, UNNEST(range(0, 9)) AS i(i)
  WHERE i.i < 4 + doc_id % 5
), b AS (
  SELECT s.doc_id,
         SUM((s.doc_id * 31 + s.i * 101 + j.j * 7) % 256) AS psum
  FROM s, UNNEST(range(0, 17)) AS j(j)
  WHERE j.j < s.sz
  GROUP BY s.doc_id
)
SELECT s.doc_id,
       CAST(1 AS INT) AS n_tracks,
       'vide' AS handler,
       CAST(1000 AS INT) AS timescale,
       CAST(SUM(s.dur) AS BIGINT) AS duration,
       CAST(COUNT(*) AS INT) AS n_samples,
       CAST(SUM(s.sz) AS BIGINT) AS total_sample_bytes,
       CAST(MAX(b.psum) AS BIGINT) AS payload_sum
FROM s JOIN b ON s.doc_id = b.doc_id
GROUP BY s.doc_id
"""


def m8b_mp4_frames(spark, sf_dir):
    """M8b: REAL video frame-sample extraction at the container level
    (multimodal/mp4.py). Every 2nd sample's byte range is resolved
    through the parsed stts/stsc/stsz/stco tables and its payload
    bytes are pulled straight out of mdat — one row per sampled
    frame. This is the distributed frame-sampling shape a 100 TB
    video corpus needs (narrow scan -> map_rows, zero shuffle);
    the codec decode of each extracted payload is the only part
    still gated on ffmpeg."""
    from neuroimaging_data_pipeline_spark.multimodal.mp4 import (
        mp4_sample_frames,
        synthesize_mp4_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_mp4_clips(d, id_col="doc_id")
    frames = mp4_sample_frames(media, every_n=2)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        "frame_idx",
        "frame_size",
        "frame_sum",
    )


M8B_SQL = """
WITH s AS (
  SELECT doc_id, i.i AS i,
         8 + ((doc_id * 13 + i.i * 7) % 9) AS sz
  FROM documents, UNNEST(range(0, 9)) AS i(i)
  WHERE i.i < 4 + doc_id % 5 AND i.i % 2 = 0
)
SELECT s.doc_id,
       CAST(s.i AS INT) AS frame_idx,
       CAST(s.sz AS INT) AS frame_size,
       CAST(SUM((s.doc_id * 31 + s.i * 101 + j.j * 7) % 256) AS BIGINT)
         AS frame_sum
FROM s, UNNEST(range(0, 17)) AS j(j)
WHERE j.j < s.sz
GROUP BY s.doc_id, s.i, s.sz
"""


def m9_jpeg_420(spark, sf_dir):
    """M9: REAL 4:2:0-SUBSAMPLED baseline JPEG end-to-end
    (multimodal/jpeg.py). Per document, a genuine JFIF with 2x2 luma
    sampling (MCU = 4 Y blocks + Cb + Cr interleaved, the layout
    virtually every camera/web JPEG uses) is encoded stdlib-only and
    decoded by the generalized sampling-factor-aware parser inside
    Arrow-batched map_rows. The fixture's constant 16x16
    macroblocks survive the subsampled pipeline bit-exactly (gray
    YCbCr + constant-plane chroma averaging + DC-only blocks +
    replication upsampling are each exact), so the oracle recomputes
    every channel stat from the macroblock formula; lossy behavior on
    arbitrary color is pinned in pytest. This retires the
    'subsampled JPEG needs PIL' capability gate."""
    from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
        jpeg_color_features,
        synthesize_jpeg_420_images,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_jpeg_420_images(d, id_col="doc_id")
    feats = jpeg_color_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        (F.round("mean_r", 6) + F.lit(0.0)).alias("mean_r"),
        (F.round("mean_g", 6) + F.lit(0.0)).alias("mean_g"),
        (F.round("mean_b", 6) + F.lit(0.0)).alias("mean_b"),
        "sum_px",
    )


M9_SQL = """
WITH mb AS (
  SELECT doc_id,
         (doc_id * 19 + my.my * 47 + mx.mx * 37) % 256 AS v
  FROM documents,
       UNNEST(range(0, 2)) AS my(my),
       UNNEST(range(0, 2)) AS mx(mx)
)
SELECT doc_id,
       CAST(32 AS INT) AS width,
       CAST(32 AS INT) AS height,
       (ROUND(AVG(CAST(v AS DOUBLE)), 6) + 0.0) AS mean_r,
       (ROUND(AVG(CAST(v AS DOUBLE)), 6) + 0.0) AS mean_g,
       (ROUND(AVG(CAST(v AS DOUBLE)), 6) + 0.0) AS mean_b,
       CAST(SUM(v) * 256 * 3 AS BIGINT) AS sum_px
FROM mb GROUP BY doc_id
"""


def m10_audio_frames(spark, sf_dir):
    """M10: frame-level audio features through the REAL WAV codec
    (multimodal/binaryops.py wav_frame_features) — the audio analog
    of m8b's video frame sampling, and the windowed shape VAD /
    silence-trim / loudness pipelines start from. Each 32-sample clip
    (md5-nibble definition, same as m2) splits into four 8-sample
    frames; per frame: RMS and the zero-crossing count. The oracle
    recomputes both from the nibble formula with a lag window — a
    codec bug OR a frame-boundary bug breaks the hash match."""
    from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
        synthesize_wav_clips,
        wav_frame_features,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_wav_clips(d, id_col="doc_id", text_col="text")
    frames = wav_frame_features(media, frame_len=8)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        "frame_idx",
        "n_in_frame",
        (F.round("rms", 6) + F.lit(0.0)).alias("rms"),
        "n_zero_cross",
    )


M10_SQL = """
WITH nibs AS (
  SELECT doc_id, t.i AS i,
         CAST((t.i - 1) // 8 AS INT) AS frame_idx,
         (CASE WHEN ascii(substring(md5(COALESCE(text, '')), t.i, 1)) >= 97
               THEN ascii(substring(md5(COALESCE(text, '')), t.i, 1)) - 87
               ELSE ascii(substring(md5(COALESCE(text, '')), t.i, 1)) - 48
          END) AS nib
  FROM documents, UNNEST(range(1, 33)) AS t(i)
), s AS (
  SELECT doc_id, i, frame_idx,
         nib * 4096.0 - 32768.0 AS v,
         (nib >= 8) AS nonneg
  FROM nibs
), z AS (
  SELECT doc_id, frame_idx, v, nonneg,
         LAG(nonneg) OVER (
           PARTITION BY doc_id, frame_idx ORDER BY i
         ) AS prev
  FROM s
)
SELECT doc_id,
       frame_idx,
       CAST(COUNT(*) AS INT) AS n_in_frame,
       (ROUND(sqrt(AVG(v * v)), 6) + 0.0) AS rms,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND nonneg <> prev
                     THEN 1 ELSE 0 END) AS INT) AS n_zero_cross
FROM z GROUP BY doc_id, frame_idx
"""


def m11_jpeg_progressive(spark, sf_dir):
    """M11: REAL PROGRESSIVE JPEG (SOF2, spectral selection)
    end-to-end (multimodal/jpeg.py encode_jpeg_progressive /
    decode_jpeg). Per document a genuine multi-scan progressive file
    (interleaved DC scan, then per-band AC scans with EOBn run
    symbols from a custom spec-valid Huffman table) is encoded
    stdlib-only and decoded by the multi-scan coefficient-
    accumulating parser inside Arrow-batched map_rows. Spectral
    selection is lossless relative to baseline, and the fixture's
    constant blocks are additionally DC-only, so the oracle
    recomputes every stat from the block formula; progressive ==
    baseline bit-equality on arbitrary images is pinned in pytest.
    This retires the 'progressive JPEG needs PIL' capability gate
    (successive approximation and subsampled progressive remain
    declared gates)."""
    from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
        jpeg_features,
        synthesize_jpeg_progressive_images,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_jpeg_progressive_images(d, id_col="doc_id")
    feats = jpeg_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        (F.round("mean_gray", 6) + F.lit(0.0)).alias("mean_gray"),
        "sum_px",
    )


M11_SQL = """
WITH blk AS (
  SELECT doc_id,
         (doc_id * 23 + by.by * 53 + bx.bx * 59) % 256 AS v
  FROM documents,
       UNNEST(range(0, 3)) AS by(by),
       UNNEST(range(0, 2)) AS bx(bx)
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(24 AS INT) AS height,
       (ROUND(AVG(CAST(v AS DOUBLE)), 6) + 0.0) AS mean_gray,
       CAST(SUM(v) * 64 AS BIGINT) AS sum_px
FROM blk GROUP BY doc_id
"""


def m12_png_interlaced(spark, sf_dir):
    """M12: REAL ADAM7-INTERLACED PNG end-to-end
    (multimodal/binaryops.py). Per document a genuine interlaced PNG
    (seven independently-filtered sub-images in one DEFLATE stream,
    uneven pass dims from the 12x9 shape) is encoded stdlib-only and
    decoded by the pass-carving/scattering parser inside Arrow
    map_rows. PNG is lossless, so the oracle recomputes every
    channel stat + the total-pixel checksum from the pixel formula —
    a bug in any pass's geometry, filtering or scatter breaks the
    hash match. This retires the non-interlaced-only PNG gate."""
    from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
        png_features,
        synthesize_png_interlaced,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_png_interlaced(d, id_col="doc_id")
    feats = png_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        (F.round("mean_r", 6) + F.lit(0.0)).alias("mean_r"),
        (F.round("mean_g", 6) + F.lit(0.0)).alias("mean_g"),
        (F.round("mean_b", 6) + F.lit(0.0)).alias("mean_b"),
        "sum_px",
    )


M12_SQL = """
WITH px AS (
  SELECT doc_id, c.c AS c,
         (doc_id * 29 + y.y * 41 + x.x * 13 + c.c * 67) % 256 AS v
  FROM documents,
       UNNEST(range(0, 9)) AS y(y),
       UNNEST(range(0, 12)) AS x(x),
       UNNEST(range(0, 3)) AS c(c)
), chan AS (
  SELECT doc_id, c, AVG(CAST(v AS DOUBLE)) AS m, SUM(v) AS s
  FROM px GROUP BY doc_id, c
)
SELECT doc_id,
       CAST(12 AS INT) AS width,
       CAST(9 AS INT) AS height,
       (ROUND(MAX(CASE WHEN c = 0 THEN m END), 6) + 0.0) AS mean_r,
       (ROUND(MAX(CASE WHEN c = 1 THEN m END), 6) + 0.0) AS mean_g,
       (ROUND(MAX(CASE WHEN c = 2 THEN m END), 6) + 0.0) AS mean_b,
       CAST(SUM(s) AS BIGINT) AS sum_px
FROM chan GROUP BY doc_id
"""


def e4_multimodal_pipeline(spark, sf_dir):
    """E4: a MULTIMODAL curation pipeline composed end-to-end as ONE
    lazy plan — the image+audio+text join shape CLIP-style data prep
    runs:

      documents
        -> exact dedup, keep the min-id representative
        -> REAL PNG decode of each kept doc's image -> channel means
        -> REAL WAV decode of each kept doc's clip  -> RMS
        -> join all three modalities on doc_id
        -> keep docs whose image is bright (mean_r > 120) AND whose
           audio is loud (rms > 18000) — the cross-modal filter
        -> (doc_id, n_tokens, mean_r, rms)

    Every stage is an operator the standalone queries already seal
    (m4's PNG codec, m2's WAV codec, d_exact_dedup), so the oracle
    reuses their proven SQL twins CTE-by-CTE and the final join +
    filter is checked as one hash. Plan: one dedup hash-agg shuffle,
    two narrow Arrow codec chains, two equi-joins on doc_id (AQE
    broadcasts the smaller sides), no row-Python anywhere."""
    from neuroimaging_data_pipeline_spark.dedup.exact import (
        exact_dedup_keys,
    )
    from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
        png_features,
        synthesize_png_images,
        synthesize_wav_clips,
        wav_features,
    )
    from neuroimaging_data_pipeline_spark.text.analysis import token_count

    docs = read_table(spark, sf_dir, "documents", min_partitions="auto")
    keep = exact_dedup_keys(docs).select(F.col("keep_id").alias("doc_id"))
    kept = docs.join(keep, "doc_id", "left_semi")
    img = png_features(synthesize_png_images(kept, id_col="doc_id")).select(
        F.col("media_id").alias("doc_id"), "mean_r"
    )
    aud = wav_features(
        synthesize_wav_clips(kept, id_col="doc_id", text_col="text")
    ).select(F.col("media_id").alias("doc_id"), "rms")
    return (
        kept.select("doc_id", token_count("text").alias("n_tokens"))
        .join(img, "doc_id")
        .join(aud, "doc_id")
        .filter((F.col("mean_r") > 120.0) & (F.col("rms") > 18000.0))
        .select(
            "doc_id",
            "n_tokens",
            (F.round("mean_r", 6) + F.lit(0.0)).alias("mean_r"),
            (F.round("rms", 6) + F.lit(0.0)).alias("rms"),
        )
    )


E4_SQL = """
WITH norm AS (
  SELECT doc_id, text,
         md5(substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                       1, 1000000)) AS content_hash
  FROM documents
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY content_hash
), kept AS (
  SELECT n.doc_id, n.text FROM norm n JOIN keep k ON n.doc_id = k.doc_id
), img AS (
  SELECT doc_id, AVG(CAST((doc_id * 11 + y.y * 37 + x.x * 23) % 256
                          AS DOUBLE)) AS mean_r
  FROM kept, UNNEST(range(0, 10)) AS y(y), UNNEST(range(0, 8)) AS x(x)
  GROUP BY doc_id
), nibs AS (
  SELECT doc_id,
         (CASE WHEN ascii(substring(md5(COALESCE(text, '')), i, 1)) >= 97
               THEN ascii(substring(md5(COALESCE(text, '')), i, 1)) - 87
               ELSE ascii(substring(md5(COALESCE(text, '')), i, 1)) - 48
          END) AS nib
  FROM kept, UNNEST(range(1, 33)) AS t(i)
), aud AS (
  SELECT doc_id,
         sqrt(AVG(POW(nib * 4096.0 - 32768.0, 2))) AS rms
  FROM nibs GROUP BY doc_id
)
SELECT k.doc_id,
       CAST(len(regexp_split_to_array(trim(k.text), '\\s+')) AS INT)
         AS n_tokens,
       (ROUND(img.mean_r, 6) + 0.0) AS mean_r,
       (ROUND(aud.rms, 6) + 0.0) AS rms
FROM kept k
JOIN img ON k.doc_id = img.doc_id
JOIN aud ON k.doc_id = aud.doc_id
WHERE img.mean_r > 120.0 AND aud.rms > 18000.0
"""


def m13_tar_samples(spark, sf_dir):
    """M13: REAL WebDataset-style TAR shard codec (multimodal/tar.py).

    Per document, a genuine (odd ids: gzipped) USTAR shard holding one
    {key}.txt/{key}.cls[/{key}.bin] sample is built, carried as an
    opaque binary column, then decoded by the real block-walking
    parser inside Arrow map_rows: every header checksum is
    re-verified, members are grouped into samples by the WebDataset
    key rule, and archive_blocks seals the 512-byte padding/trailer
    arithmetic — so ANY framing error anywhere breaks the hash match
    against the formula-recomputing oracle. Zero shuffle; this is the
    shard-ingest shape a tar-packed multimodal corpus reads with."""
    from neuroimaging_data_pipeline_spark.multimodal.tar import (
        synthesize_tar_shards,
        tar_sample_features,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_tar_shards(d, id_col="doc_id")
    feats = tar_sample_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "sample_key",
        "n_members",
        "total_member_bytes",
        "txt_sum",
        "cls_val",
        "bin_sum",
        "archive_blocks",
    )


# mirrors _sample_members/encode_shard in multimodal/tar.py:
# txt_len = 20 + id%40, txt_j = (id*17+j*11)%256; cls = id%10;
# bin iff id%3!=0, bin_len = 5 + (id*7)%10, bin_j = (id*29+j*13)%256.
# blocks: txt spans 1 hdr + 1 data block (len<=59), cls 1+1, bin 1+1,
# trailer 2 -> 6 + (bin present ? 2 : 0).
M13_SQL = """
WITH t AS (
  SELECT doc_id,
         20 + doc_id % 40 AS txt_len,
         CASE WHEN doc_id % 3 <> 0 THEN 5 + (doc_id * 7) % 10 END AS bin_len
  FROM documents
), txt AS (
  SELECT doc_id, SUM((doc_id * 17 + j.j * 11) % 256) AS txt_sum
  FROM t, UNNEST(range(0, 60)) AS j(j)
  WHERE j.j < txt_len GROUP BY doc_id
), bin AS (
  SELECT doc_id, SUM((doc_id * 29 + j.j * 13) % 256) AS bin_sum
  FROM t, UNNEST(range(0, 15)) AS j(j)
  WHERE bin_len IS NOT NULL AND j.j < bin_len GROUP BY doc_id
)
SELECT t.doc_id,
       printf('%06d', t.doc_id) AS sample_key,
       CAST(CASE WHEN t.bin_len IS NULL THEN 2 ELSE 3 END AS INT) AS n_members,
       CAST(t.txt_len + 1 + COALESCE(t.bin_len, 0) AS BIGINT) AS total_member_bytes,
       CAST(txt.txt_sum AS BIGINT) AS txt_sum,
       CAST(t.doc_id % 10 AS INT) AS cls_val,
       CAST(COALESCE(bin.bin_sum, 0) AS BIGINT) AS bin_sum,
       CAST(6 + CASE WHEN t.bin_len IS NULL THEN 0 ELSE 2 END AS INT) AS archive_blocks
FROM t
JOIN txt ON t.doc_id = txt.doc_id
LEFT JOIN bin ON t.doc_id = bin.doc_id
"""


def m14_jsonl_shards(spark, sf_dir):
    """M14: REAL .jsonl.gz shard round trip — the storage shape text
    corpora actually ship in. Five documents per shard are serialized
    to JSON Lines JVM-side (to_json), gzip-compressed into genuine
    RFC 1952 members (stdlib, deterministic mtime=0), carried as an
    opaque binary column, inflated back in Arrow map_rows, and
    re-parsed ENTIRELY in JVM expressions (split + from_json inside
    array transforms — Python touches only the byte codec). Per-shard
    stats over the RECOVERED records seal the whole frame: any
    corruption in serialize -> gzip -> Arrow -> inflate -> parse
    breaks the hash match against the oracle recomputing from the
    original table."""
    from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
        gunzip_text,
        synthesize_jsonl_shards,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    line = F.to_json(F.struct("doc_id", "lang", "source", "text"))
    shards = (
        d.select(
            F.floor(F.col("doc_id") / 5).cast("long").alias("shard_id"),
            F.struct(F.col("doc_id"), line.alias("line")).alias("rec"),
        )
        .groupBy("shard_id")
        .agg(F.array_sort(F.collect_list("rec")).alias("recs"))
        .select(
            "shard_id",
            F.array_join(
                F.transform("recs", lambda r: r["line"]), "\n"
            ).alias("payload"),
        )
    )
    media = synthesize_jsonl_shards(shards)
    inflated = gunzip_text(media)
    rec_schema = "doc_id long, lang string, source string, text string"
    parsed = F.transform(
        F.split("payload", "\n"), lambda l: F.from_json(l, rec_schema)
    )
    p = F.col("parsed")
    return (
        inflated.select(F.col("media_id").alias("shard_id"), parsed.alias("parsed"))
        .select(
            "shard_id",
            F.size(p).cast("long").alias("n_docs"),
            F.aggregate(
                p,
                F.lit(0).cast("long"),
                lambda acc, x: acc
                + F.length(F.coalesce(x["text"], F.lit(""))).cast("long"),
            ).alias("total_chars"),
            F.aggregate(
                p, F.lit(0).cast("long"), lambda acc, x: acc + x["doc_id"]
            ).alias("sum_doc_id"),
            F.size(
                F.array_distinct(F.transform(p, lambda x: x["lang"]))
            ).cast("long").alias("n_langs"),
        )
    )


M14_SQL = """
SELECT CAST(doc_id // 5 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(COALESCE(text, ''))) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents
GROUP BY 1
"""


def m15_bmp_stats(spark, sf_dir):
    """M15: REAL BMP/DIB codec (multimodal/bmp.py) — full
    BITMAPFILEHEADER + BITMAPINFOHEADER, 24 bpp BGR with 4-byte row
    padding, and BOTH row orders (odd ids use the negative-height
    top-down layout, even ids bottom-up), so the decoder's row flip
    is oracle-sealed. Channel means recomputed from the pixel formula
    in SQL; narrow zero-shuffle codec plan like its siblings."""
    from neuroimaging_data_pipeline_spark.multimodal.bmp import (
        bmp_features,
        synthesize_bmp_images,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    feats = bmp_features(synthesize_bmp_images(d, id_col="doc_id"))
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        (F.round("mean_r", 6) + F.lit(0.0)).alias("mean_r"),
        (F.round("mean_g", 6) + F.lit(0.0)).alias("mean_g"),
        (F.round("mean_b", 6) + F.lit(0.0)).alias("mean_b"),
    )


# mirrors _pixel in multimodal/bmp.py over the 10x7 grid
M15_SQL = """
WITH px AS (
  SELECT doc_id, x.x AS x, y.y AS y,
         (doc_id * 3 + x.x * 5 + y.y * 11) % 256 AS r,
         (doc_id * 7 + x.x * 13 + y.y * 3) % 256 AS g,
         (doc_id * 11 + x.x * 2 + y.y * 7) % 256 AS b
  FROM documents, UNNEST(range(0, 10)) AS x(x), UNNEST(range(0, 7)) AS y(y)
)
SELECT doc_id,
       CAST(10 AS INT) AS width,
       CAST(7 AS INT) AS height,
       (ROUND(AVG(r), 6) + 0.0) AS mean_r,
       (ROUND(AVG(g), 6) + 0.0) AS mean_g,
       (ROUND(AVG(b), 6) + 0.0) AS mean_b
FROM px GROUP BY doc_id
"""


def m16_mjpeg_frames(spark, sf_dir):
    """M16: TRUE video frame decode via the MJPEG profile — REAL JPEG
    frames (multimodal/jpeg.py) inside the REAL MP4 container
    (multimodal/mp4.py). Per document a motion-JPEG clip is built
    (4-8 frames, 'jpeg' VisualSampleEntry), every 2nd frame's byte
    range is resolved through the parsed stsc/stsz/stco sample
    tables, and the extracted payload is Huffman-decoded, dequantized
    and IDCT'd down to pixels — closing the r4 'video frame payload
    decode' gap with zero new dependencies (H.264 payloads remain
    honestly ffmpeg-gated in multimodal/binaryops.py). Constant
    8x8-block frames make the lossy path bit-exact, so the oracle
    recomputes pixel sums from the frame-value formula in pure SQL.
    Narrow scan -> map_rows, zero shuffle, embarrassingly
    parallel — the same split the reference applies at its NIfTI
    boundary (ssm_loop.py:40)."""
    from neuroimaging_data_pipeline_spark.multimodal.mp4 import (
        mjpeg_frame_stats,
        synthesize_mjpeg_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_mjpeg_clips(d, id_col="doc_id")
    frames = mjpeg_frame_stats(media, every_n=2)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        "frame_idx",
        "width",
        "height",
        "px_sum",
    )


M16_SQL = """
WITH f AS (
  SELECT doc_id, i.i AS i,
         (doc_id * 31 + i.i * 53) % 256 AS v
  FROM documents, UNNEST(range(0, 9)) AS i(i)
  WHERE i.i < 4 + doc_id % 5 AND i.i % 2 = 0
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(8 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST(v * 64 AS BIGINT) AS px_sum
FROM f
"""


def m17_gif_frames(spark, sf_dir):
    """M17: REAL animated GIF end-to-end (multimodal/gif.py) — the
    tenth real media format, and with MJPEG the second true
    multi-frame/animation decode. Per document a GIF89a is written
    (8-color global palette, NETSCAPE loop extension the parser must
    skip, per-frame graphic-control delays) and decoded back: the
    LZW streams (variable 3..12-bit codes, LSB-first packing,
    CLEAR/EOI, 4096-entry dictionary resets) are fully decoded to
    palette indices and mapped through the color table. LZW is
    lossless, so the oracle recomputes frame counts, delays, index
    sums and red-channel sums from the fixture formulas in pure SQL.
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.gif import (
        gif_frame_stats,
        synthesize_gifs,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_gifs(d, id_col="doc_id")
    return gif_frame_stats(media).select(
        F.col("media_id").alias("doc_id"),
        "frame_idx",
        "delay_cs",
        "width",
        "height",
        "idx_sum",
        "r_sum",
    )


M17_SQL = """
WITH f AS (
  SELECT doc_id, i.i AS i,
         (doc_id * 7 + i.i * 3) % 8 AS v
  FROM documents, UNNEST(range(0, 4)) AS i(i)
  WHERE i.i < 2 + doc_id % 3
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(10 * (i + 1) AS INT) AS delay_cs,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       CAST(192 * v AS BIGINT) AS idx_sum,
       CAST(192 * ((v * 31) % 256) AS BIGINT) AS r_sum
FROM f
"""


def m18_jpeg12_stats(spark, sf_dir):
    """M18: REAL 12-BIT extended-sequential JPEG end-to-end
    (multimodal/jpeg12.py + the SOF1/Pq=1 decoder paths in jpeg.py)
    — closes the declared '12-bit precision' capability gate. Per
    document a genuine SOF1 JPEG (12-bit samples, 16-bit DQT,
    OPTIMAL two-pass K.2/K.3 Huffman tables carried in DHT) is
    encoded stdlib-only and decoded by the same generalized marker-
    walking parser inside Arrow-batched map_rows. Constant 8x8
    blocks at unit quant are bit-exact, so the oracle recomputes the
    decoded 12-bit stats from the block formula in pure SQL; max_px
    exceeding 255 on nearly every image proves the deep dynamic
    range flowed through decode rather than an 8-bit fallback.
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.jpeg12 import (
        jpeg12_features,
        synthesize_jpeg12_images,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_jpeg12_images(d, id_col="doc_id")
    return jpeg12_features(media).select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        (F.round("mean_gray", 6) + F.lit(0.0)).alias("mean_gray"),
        "sum_px",
        "max_px",
    )


M18_SQL = """
WITH blk AS (
  SELECT doc_id,
         (doc_id * 29 + by.by * 67 + bx.bx * 61) % 4096 AS v
  FROM documents,
       UNNEST(range(0, 3)) AS by(by),
       UNNEST(range(0, 2)) AS bx(bx)
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(24 AS INT) AS height,
       (ROUND(AVG(CAST(v AS DOUBLE)), 6) + 0.0) AS mean_gray,
       CAST(SUM(v) * 64 AS BIGINT) AS sum_px,
       CAST(MAX(v) AS INT) AS max_px
FROM blk GROUP BY doc_id
"""


def m19_jpeg_arith(spark, sf_dir):
    """M19: ARITHMETIC-CODED JPEG (T.81 SOF9 extended sequential,
    multimodal/jpeg_arith.py) — narrows the declared 'arithmetic
    coding' capability gate. Per document a 12-BIT SOF9 stream (DQT/
    SOF9/DAC/SOS markers, byte-stuffed entropy segment) is encoded by
    the context-adaptive binary arithmetic coder (F.1.4-structured
    DC/AC decision model over a QM-style estimation state machine;
    register discipline and state constants are declared
    reconstructions — see module docstring) and decoded back inside
    Arrow-batched map_rows. Constant 8x8 blocks at unit quant are
    bit-exact, so the oracle recomputes the decoded 12-bit stats from
    the block formula; pytest separately pins that the adaptive coder
    compresses natural content tighter than the Huffman coder.
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.jpeg_arith import (
        jpeg_arith_features,
        synthesize_jpeg_arith_images,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_jpeg_arith_images(d, id_col="doc_id")
    return jpeg_arith_features(media).select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        (F.round("mean_gray", 6) + F.lit(0.0)).alias("mean_gray"),
        "sum_px",
        "max_px",
    )


M19_SQL = """
WITH blk AS (
  SELECT doc_id,
         (doc_id * 31 + by.by * 71 + bx.bx * 73) % 4096 AS v
  FROM documents,
       UNNEST(range(0, 3)) AS by(by),
       UNNEST(range(0, 2)) AS bx(bx)
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(24 AS INT) AS height,
       (ROUND(AVG(CAST(v AS DOUBLE)), 6) + 0.0) AS mean_gray,
       CAST(SUM(v) * 64 AS BIGINT) AS sum_px,
       CAST(MAX(v) AS INT) AS max_px
FROM blk GROUP BY doc_id
"""


def m20_h264_ipcm(spark, sf_dir):
    """M20: REAL H.264/AVC decode (multimodal/h264.py) — the
    remaining 'H.264 frame-payload decode' gap, closed for the
    codec's own lossless raw mode. Per document a conformant Annex B
    byte stream (NAL start codes + emulation prevention, Exp-Golomb
    SPS/PPS with frame cropping, IDR slice header, I_PCM macroblock
    layer with 4:2:0 chroma) is written and parsed back field-for-
    field inside Arrow-batched map_rows. I_PCM is bit-exact for
    ARBITRARY content, so the fixture uses per-pixel formulas (no
    constant-block workaround) and the oracle recomputes every
    decoded luma/chroma sample in pure SQL; where ffmpeg exists, a
    gated pytest asserts ffmpeg decodes the same bytes to identical
    samples. Predicted macroblocks remain the declared ffmpeg gate.
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.h264 import (
        h264_frame_features,
        synthesize_h264_frames,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_frames(d, id_col="doc_id")
    return h264_frame_features(media).select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        (F.round("mean_y", 6) + F.lit(0.0)).alias("mean_y"),
        "sum_y",
        "sum_cb",
        "sum_cr",
    )


M20_SQL = """
WITH luma AS (
  SELECT doc_id, SUM((doc_id * 7 + y.y * 13 + x.x * 17) % 256) AS sy
  FROM documents,
       UNNEST(range(0, 24)) AS y(y),
       UNNEST(range(0, 16)) AS x(x)
  GROUP BY doc_id
), chroma AS (
  SELECT doc_id,
         SUM((doc_id * 3 + r.r * 5 + c.c * 11) % 256) AS scb,
         SUM((doc_id * 5 + r.r * 7 + c.c * 3) % 256) AS scr
  FROM documents,
       UNNEST(range(0, 12)) AS r(r),
       UNNEST(range(0, 8)) AS c(c)
  GROUP BY doc_id
)
SELECT luma.doc_id,
       CAST(16 AS INT) AS width,
       CAST(24 AS INT) AS height,
       (ROUND(CAST(sy AS DOUBLE) / 384, 6) + 0.0) AS mean_y,
       CAST(sy AS BIGINT) AS sum_y,
       CAST(scb AS BIGINT) AS sum_cb,
       CAST(scr AS BIGINT) AS sum_cr
FROM luma JOIN chroma USING (doc_id)
"""


def m21_h264_intra(spark, sf_dir):
    """M21: H.264 PREDICTED-macroblock decode (multimodal/
    h264_intra.py) — Intra_16x16 DC prediction + CAVLC entropy
    coding, the half of the H.264 gate that I_PCM (m20) left open.
    Per document a conformant Annex B IDR frame of Intra_16x16
    macroblocks is encoded at QP 0 (mb_type 3, coeff_token/level/
    total_zeros/run_before VLCs, luma-DC Hadamard path, chroma DC
    prediction) and decoded back through intra prediction +
    dequantization + inverse transforms. Per-MB-constant content
    makes the DC-only residual path PROVEN bit-exact at QP 0 (pytest
    scans every residual in [-255,255]), so the oracle recomputes
    every decoded sample from the fixture formula in pure SQL —
    chroma carries NONZERO per-MB residuals through the 2x2 chroma-DC
    Hadamard path (r10 fixture sweep; the path the r9 16x-shrink bug
    hid in behind constant-128 fixtures).
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
        h264_intra_frame_features,
        synthesize_h264_intra_frames,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_intra_frames(d, id_col="doc_id")
    return h264_intra_frame_features(media).select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        (F.round("mean_y", 6) + F.lit(0.0)).alias("mean_y"),
        "sum_y",
        "sum_cb",
        "sum_cr",
    )


M21_SQL = """
WITH mb AS (
  SELECT doc_id,
         (doc_id * 11 + my.my * 37 + mx.mx * 29) % 256 AS v,
         (doc_id * 7 + my.my * 31 + mx.mx * 43) % 256 AS vcb,
         (doc_id * 5 + my.my * 23 + mx.mx * 47) % 256 AS vcr
  FROM documents,
       UNNEST(range(0, 2)) AS my(my),
       UNNEST(range(0, 2)) AS mx(mx)
)
SELECT doc_id,
       CAST(32 AS INT) AS width,
       CAST(32 AS INT) AS height,
       (ROUND(SUM(v) / 4.0, 6) + 0.0) AS mean_y,
       CAST(SUM(v) * 256 AS BIGINT) AS sum_y,
       CAST(SUM(vcb) * 64 AS BIGINT) AS sum_cb,
       CAST(SUM(vcr) * 64 AS BIGINT) AS sum_cr
FROM mb GROUP BY doc_id
"""


def m22_pdf_text(spark, sf_dir):
    """M22: REAL PDF text extraction (multimodal/pdf.py) — the
    document format a corpus mines papers/reports from. Per document
    a well-formed PDF 1.4 is written (catalog/page tree, 1 + id%3
    pages, FlateDecode content streams, byte-accurate xref + trailer)
    and parsed back via the xref walk: every object visited at its
    recorded byte offset, streams inflated, and the BT/ET text
    operators (Tj literals with the full escape set AND TJ kerning
    arrays — both paths on every page) reassembled into the exact
    original string. The oracle checks md5(text) straight against the
    documents table plus the structural counts from the fixture
    formula, so a framing/xref/inflate/escape bug anywhere breaks the
    hash match. Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.pdf import (
        pdf_text_features,
        synthesize_pdfs,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_pdfs(d, id_col="doc_id", text_col="text")
    return pdf_text_features(media).select(
        F.col("media_id").alias("doc_id"),
        "n_pages",
        "n_objects",
        "n_chars",
        "text_md5",
    )


M22_SQL = """
SELECT doc_id,
       CAST(1 + doc_id % 3 AS INT) AS n_pages,
       CAST(3 + 2 * (1 + doc_id % 3) AS INT) AS n_objects,
       CAST(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


def m46_pdf_xrefstream(spark, sf_dir):
    """M46: PDF 1.5 — CROSS-REFERENCE STREAMS + OBJECT STREAMS
    (multimodal/pdf.py, r11), the form virtually every modern PDF
    producer emits (and what the m22 PDF-1.4 path declared as its
    gate). Per document the same text corpus is written as a PDF 1.5:
    catalog/page-tree/font/page dicts packed into a FlateDecode
    /ObjStm, and the cross-reference table as a /Type /XRef stream
    (/W [1 4 2] binary rows under the PNG Up predictor
    /Predictor 12), trailer fields inline. The parser reverses it
    all: predictor un-filtering, /W row decode, /Index subsections,
    type-2 entry resolution through the object-stream pair header —
    then the same Tj/TJ text reassembly, md5-checked against the
    source table. A wrong predictor, row width, pair offset or
    object-stream slice breaks the hash. Narrow scan -> map_rows,
    zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.pdf import (
        pdf_text_features,
        synthesize_pdfs,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_pdfs(d, id_col="doc_id", text_col="text",
                            version="1.5")
    return pdf_text_features(media).select(
        F.col("media_id").alias("doc_id"),
        "n_pages",
        "n_objects",
        "n_chars",
        "text_md5",
    )


# 1.5 layout: 3 shared dicts + n page dicts in the ObjStm, n content
# streams + the ObjStm + the XRef stream top-level => 2n + 5 objects
M46_SQL = """
SELECT doc_id,
       CAST(1 + doc_id % 3 AS INT) AS n_pages,
       CAST(5 + 2 * (1 + doc_id % 3) AS INT) AS n_objects,
       CAST(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


def m23_mulaw_audio(spark, sf_dir):
    """M23: REAL G.711 mu-law audio codec (multimodal/mulaw.py) —
    the telephony companding format, carried in a genuine RIFF/WAVE
    container with wFormatTag 7 (the stdlib wave module cannot write
    it, so the chunk walk is explicit). Per document 40 linear
    samples spanning the full 14-bit range are companded to 8-bit
    codes and decoded back via the 256-entry LUT; decode(encode(x))
    is pure integer segment/mantissa arithmetic, so the oracle
    recomputes every decoded sample in SQL with floor(log2())
    segment finds — a wrong bias, segment bound, complement or sign
    anywhere breaks the hash match. Narrow scan -> map_rows,
    zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.mulaw import (
        mulaw_clip_features,
        synthesize_mulaw_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_mulaw_clips(d, id_col="doc_id")
    return mulaw_clip_features(media).select(
        F.col("media_id").alias("doc_id"),
        "n_samples",
        "sample_rate",
        "sum_decoded",
        "sum_abs",
        "max_abs",
    )


M23_SQL = """
WITH s AS (
  SELECT doc_id,
         (doc_id * 131 + j.j * 617) % 16319 - 8159 AS x
  FROM documents, UNNEST(range(0, 40)) AS j(j)
), q AS (
  SELECT doc_id, x,
         LEAST(ABS(x) + 33, 8191) AS m0
  FROM s
), e AS (
  SELECT doc_id, x,
         CAST(FLOOR(LOG2(m0)) AS INT) - 5 AS ex,
         m0
  FROM q
), d AS (
  SELECT doc_id,
         CASE WHEN x < 0 THEN -1 ELSE 1 END *
         ((2 * (CAST(FLOOR(m0 / POW(2, ex + 1)) AS INT) % 16) + 33)
          * CAST(POW(2, ex) AS INT) - 33) AS dec
  FROM e
)
SELECT doc_id,
       CAST(40 AS INT) AS n_samples,
       CAST(8000 AS INT) AS sample_rate,
       CAST(SUM(dec) AS BIGINT) AS sum_decoded,
       CAST(SUM(ABS(dec)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(dec)) AS INT) AS max_abs
FROM d GROUP BY doc_id
"""


def m24_jpeg_exif(spark, sf_dir):
    """M24: EXIF metadata extraction (multimodal/exif.py) — TIFF 6.0
    IFDs inside a JPEG APP1 segment, the metadata stage an image
    corpus runs before pixels (orientation fixing, capture-time
    dedup, camera stratification). Per document a REAL grayscale JPEG
    (multimodal/jpeg.py) gets a spliced Exif block — little-endian
    'II' TIFF for even ids, big-endian 'MM' for odd, inline SHORT/
    LONG values, offset-stored ASCII and RATIONAL values, and the
    chained 0x8769 Exif sub-IFD — and the parser walks it all back
    out (the same bytes still decode to pixels, pinned in pytest).
    The oracle recomputes every field from the fixture formulas, so
    an endianness/inline-offset/IFD-chain bug breaks the hash match.
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.exif import (
        exif_features,
        synthesize_exif_jpegs,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_exif_jpegs(d, id_col="doc_id")
    return exif_features(media).select(
        F.col("media_id").alias("doc_id"),
        "byte_order",
        "make",
        "model",
        "orientation",
        "datetime",
        "iso",
        "exposure_den",
        "pixel_x",
        "pixel_y",
    )


M24_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
       'CamCo' AS make,
       'M' || CAST(doc_id % 10 AS VARCHAR) AS model,
       CAST(1 + doc_id % 8 AS INT) AS orientation,
       '2026:01:01 00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
         AS datetime,
       CAST(100 * (1 + doc_id % 32) AS INT) AS iso,
       CAST(1 + doc_id % 1000 AS INT) AS exposure_den,
       CAST(16 AS INT) AS pixel_x,
       CAST(16 AS INT) AS pixel_y
FROM documents
"""


def m25_h264_i4x4(spark, sf_dir):
    """M25: H.264 I_4x4 macroblock decode (multimodal/h264_intra.py)
    — the finest-grained intra mode, completing CAVLC I-frame
    coverage next to m21's Intra_16x16: mb_type 0, per-4x4 prediction
    modes coded with prev_intra4x4_pred_mode flags, the Table 9-4
    me(v) coded_block_pattern mapping, full-16-coefficient CAVLC
    residual blocks, and SIXTEEN chained intra predictions per
    macroblock, each feeding the next block's reconstruction. The
    decoder implements all nine 4x4 prediction modes (exact
    decoding-order availability for top-right samples, substitution
    rule included); per-4x4-constant content is PROVEN exact at QP 0,
    so the oracle recomputes every decoded sample in pure SQL.
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
        h264_intra_frame_features,
        synthesize_h264_i4x4_frames,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_i4x4_frames(d, id_col="doc_id")
    return h264_intra_frame_features(media).select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        (F.round("mean_y", 6) + F.lit(0.0)).alias("mean_y"),
        "sum_y",
        "sum_cb",
        "sum_cr",
    )


M25_SQL = """
WITH blk AS (
  SELECT doc_id,
         (doc_id * 13 + by.by * 41 + bx.bx * 59) % 256 AS v
  FROM documents,
       UNNEST(range(0, 4)) AS by(by),
       UNNEST(range(0, 4)) AS bx(bx)
), cblk AS (
  SELECT doc_id,
         (doc_id * 17 + cy.cy * 37 + cx.cx * 53) % 256 AS vcb,
         (doc_id * 19 + cy.cy * 43 + cx.cx * 61) % 256 AS vcr
  FROM documents,
       UNNEST(range(0, 2)) AS cy(cy),
       UNNEST(range(0, 2)) AS cx(cx)
), agg AS (
  SELECT doc_id, SUM(v) AS sv FROM blk GROUP BY doc_id
), cagg AS (
  SELECT doc_id, SUM(vcb) AS scb, SUM(vcr) AS scr
  FROM cblk GROUP BY doc_id
)
SELECT agg.doc_id AS doc_id,
       CAST(16 AS INT) AS width,
       CAST(16 AS INT) AS height,
       (ROUND(sv / 16.0, 6) + 0.0) AS mean_y,
       CAST(sv * 16 AS BIGINT) AS sum_y,
       CAST(scb * 16 AS BIGINT) AS sum_cb,
       CAST(scr * 16 AS BIGINT) AS sum_cr
FROM agg JOIN cagg ON agg.doc_id = cagg.doc_id
"""


def m26_mp3_meta(spark, sf_dir):
    """M26: MP3 container metadata (multimodal/mp3.py) — ID3v2.3 tag
    extraction (syncsafe sizes, text-frame walk) plus MPEG-1 Layer
    III frame-header WALKING: the parser hops frame to frame by the
    144*bitrate/samplerate+padding length arithmetic, re-verifying
    the 11-bit sync at every hop, so a single wrong length desyncs
    loudly. Per document a VBR stream (bitrates cycling 128/160/192
    kbps, padding toggling) yields frame counts, byte totals,
    sample-exact durations and the bitrate sum — all recomputed by
    the oracle from the fixture formulas. Frame PAYLOAD decode stays
    honestly gated on ffmpeg, like H.264 inter frames.
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3 import (
        mp3_meta_features,
        synthesize_mp3s,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="auto")
    media = synthesize_mp3s(d, id_col="doc_id")
    return mp3_meta_features(media).select(
        F.col("media_id").alias("doc_id"),
        "title",
        "track",
        "n_frames",
        "audio_bytes",
        "sample_rate",
        "duration_samples",
        "sum_kbps",
    )


M26_SQL = """
WITH f AS (
  SELECT doc_id, k.k AS k,
         ([128, 160, 192])[CAST((doc_id + k.k) % 3 AS INT) + 1] AS br,
         k.k % 2 AS pad
  FROM documents, UNNEST(range(0, 9)) AS k(k)
  WHERE k.k < 4 + doc_id % 5
)
SELECT doc_id,
       'doc ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(doc_id % 100 AS INT) AS track,
       CAST(COUNT(*) AS INT) AS n_frames,
       CAST(SUM(144000 * br // 44100 + pad) AS BIGINT) AS audio_bytes,
       CAST(44100 AS INT) AS sample_rate,
       CAST(COUNT(*) * 1152 AS BIGINT) AS duration_samples,
       CAST(SUM(br) AS BIGINT) AS sum_kbps
FROM f GROUP BY doc_id
"""


def m27_tiff_stats(spark, sf_dir):
    """M27: TIFF 6.0 raster codec (multimodal/tiff.py) — strip-based
    storage located only through the StripOffsets/StripByteCounts
    arrays, both byte orders, and TIFF-variant LZW (MSB-first,
    EARLY-CHANGE code widths, ClearCode table resets) with the
    horizontal-differencing predictor — the variant pair to the GIF
    module's LSB-first late-change LZW, pinned apart in pytest. Odd
    ids compress, even ids don't; byte order flips every two ids.
    The oracle recomputes width/height/strip-count and the pixel
    mean/sum from the pure integer pixel formula, so a byte-order,
    IFD, strip-offset, LZW-width or predictor bug breaks the hash.
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.tiff import (
        synthesize_tiff_images,
        tiff_features,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_tiff_images(d, id_col="doc_id")
    feats = tiff_features(media)
    return feats.select(
        "doc_id",
        "width",
        "height",
        "compression",
        "n_strips",
        (F.round("mean_px", 6) + F.lit(0.0)).alias("mean_px"),
        "sum_px",
    )


M27_SQL = """
WITH px AS (
  SELECT doc_id, (doc_id * 13 + y.y * 31 + x.x * 7) % 256 AS v
  FROM documents,
       UNNEST(range(0, 12)) AS y(y),
       UNNEST(range(0, 16)) AS x(x)
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       CASE WHEN doc_id % 2 = 1 THEN 'lzw' ELSE 'none' END AS compression,
       CAST(3 AS BIGINT) AS n_strips,
       (ROUND(AVG(CAST(v AS DOUBLE)), 6) + 0.0) AS mean_px,
       CAST(SUM(v) AS BIGINT) AS sum_px
FROM px GROUP BY doc_id
"""


def m28_flac_audio(spark, sf_dir):
    """M28: FLAC lossless audio (multimodal/flac.py) — the container
    walked for real: STREAMINFO's packed rate/channels/bits/total
    field and its spec-mandated MD5 OF THE RAW PCM (re-verified
    against every decoded sample — the oracle-visible pcm_md5_ok),
    little-endian Vorbis comments, and genuine frames with the 14-bit
    sync, UTF-8-coded frame numbers, CRC-8 headers and CRC-16
    footers. ALL FOUR subframe types are hot on the query path via
    the f%4 texture cycle: CONSTANT (flat), FIXED order 2 (ramp), LPC
    order 3 (base-offset quantized sine — covariance-method fit,
    12-bit quantized coefficients, arithmetic-shift prediction), and
    VERBATIM (hash noise). The oracle recomputes frame counts, totals
    and the PCM sample sum from the pure integer formulas (the sine
    table sums to zero per block, keeping the LPC frames closed-form).
    Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.flac import (
        flac_features,
        synthesize_flac_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_flac_clips(d, id_col="doc_id")
    return flac_features(media)


M28_SQL = """
WITH fr AS (
  SELECT doc_id, f.f AS f
  FROM documents, UNNEST(range(0, 9)) AS f(f)
  WHERE f.f < 4 + doc_id % 5
), per AS (
  -- four textures (f%4): 0 flat, 1 ramp, 2 base+period-8 sine
  -- (the sine table sums to zero over the 16-sample block, so the
  -- LPC frame's sum is exactly 16*base), 3 hash noise
  SELECT fr.doc_id, fr.f,
         SUM(CASE fr.f % 4
             WHEN 0 THEN (fr.doc_id * 7 + fr.f * 29) % 4096 - 2048
             WHEN 1 THEN (fr.doc_id * 7 + fr.f * 29 + k.k * 13) % 4096 - 2048
             WHEN 2 THEN (fr.doc_id * 7 + fr.f * 29) % 4096 - 2048
             ELSE (fr.doc_id * 7 + fr.f * 29 + k.k * 48271) % 65536 - 32768
             END) AS fsum
  FROM fr, UNNEST(range(0, 16)) AS k(k)
  GROUP BY fr.doc_id, fr.f
)
SELECT doc_id,
       'doc ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(44100 AS INT) AS sample_rate,
       CAST(COUNT(*) AS INT) AS n_frames,
       CAST(COUNT(*) * 16 AS BIGINT) AS n_samples,
       CAST(SUM(fsum) AS BIGINT) AS sum_samples,
       TRUE AS pcm_md5_ok
FROM per GROUP BY doc_id
"""


def m29_gzip_inflate(spark, sf_dir):
    """M29: from-scratch DEFLATE/gzip decode (sources/inflate.py) —
    the entropy layer under .gz shards, ZIP members and PNG IDAT,
    independently verified: stdlib zlib WRITES each member at an
    id-derived level (0 stored blocks, 1 fixed Huffman, 6/9 dynamic)
    and the RFC 1951 decoder implemented here — canonical Huffman
    construction, the permuted code-length alphabet with 16/17/18
    run coding, LZ77 length/distance extra-bit tables, overlap
    copies — must reproduce it bit-exactly, re-verifying the RFC 1952
    CRC32 (from-scratch table), ISIZE, and the optional FHCRC header
    checksum. Header features (FNAME/FCOMMENT/FEXTRA/FHCRC) ride id
    formulas the oracle recomputes. One narrow map_rows pass,
    zero shuffle."""
    from neuroimaging_data_pipeline_spark.sources.inflate import (
        gzip_inflate_features,
        synthesize_gzip_members,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_gzip_members(d, id_col="doc_id", text_col="text")
    return gzip_inflate_features(media)


M29_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0
            THEN 'doc-' || CAST(doc_id AS VARCHAR) || '.txt'
            ELSE '' END AS fname,
       (doc_id % 3 = 0) AS has_comment,
       (doc_id % 5 = 0) AS has_extra,
       (doc_id % 7 = 0) AS hcrc_checked,
       TRUE AS crc_ok,
       CAST(strlen(text) AS BIGINT) AS content_len,
       md5(text) AS text_md5
FROM documents
"""


def m30_flac_stereo(spark, sf_dir):
    """M30: stereo FLAC with per-frame CHANNEL DECORRELATION
    (multimodal/flac.py) — all four RFC 9639 channel assignments hot
    on the query path via correlation textures (independent /
    left-side / right-side / mid-side, the encoder choosing per frame
    by exact coded size), side channels coded at 17 bits, the
    mid-side low-bit parity trick exact on decode, and the
    STREAMINFO MD5 verified over the interleaved L,R PCM. The oracle
    recomputes frame counts and BOTH channel sums from the pure
    integer texture formulas. Narrow scan -> map_rows, zero
    shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.flac import (
        flac_stereo_features,
        synthesize_flac_stereo_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_flac_stereo_clips(d, id_col="doc_id")
    return flac_stereo_features(media)


# the _SINE8 table as SQL; sums recompute every per-sample formula in
# multimodal/flac.py _doc_stereo including the f==5 mirrored texture
def _sine_sql(expr):
    return ("CASE " + expr + " WHEN 0 THEN 0 WHEN 1 THEN 5793"
            " WHEN 2 THEN 8192 WHEN 3 THEN 5793 WHEN 4 THEN 0"
            " WHEN 5 THEN -5793 WHEN 6 THEN -8192 ELSE -5793 END")


M30_SQL = f"""
WITH fr AS (
  SELECT doc_id, f.f AS f
  FROM documents, UNNEST(range(0, 9)) AS f(f)
  WHERE f.f < 4 + doc_id % 5
), per AS (
  SELECT fr.doc_id, fr.f,
         SUM(CASE
             WHEN fr.f = 5 THEN
               (fr.doc_id * 7 + fr.f * 29 + k.k * 13) % 4096 - 2048
             WHEN fr.f % 4 = 0 THEN
               (fr.doc_id * 7 + fr.f * 29) % 4096 - 2048
             WHEN fr.f % 4 = 1 THEN
               (fr.doc_id * 7 + fr.f * 29 + k.k * 13) % 4096 - 2048
               + ((fr.doc_id * 3 + k.k * 48271) % 23 - 11)
             WHEN fr.f % 4 = 2 THEN
               (fr.doc_id * 7 + fr.f * 29) % 4096 - 2048
               + {_sine_sql('k.k % 8')}
             ELSE
               (fr.doc_id * 7 + fr.f * 29 + k.k * 48271) % 65536 - 32768
             END) AS lsum,
         SUM(CASE
             WHEN fr.f = 5 THEN
               (fr.doc_id * 7 + fr.f * 29 + k.k * 13) % 4096 - 2048
               + ((fr.doc_id * 3 + k.k * 48271) % 23 - 11)
             WHEN fr.f % 4 = 0 THEN
               (fr.doc_id * 11 + fr.f * 17) % 4096 - 2048
             WHEN fr.f % 4 = 1 THEN
               (fr.doc_id * 7 + fr.f * 29 + k.k * 13) % 4096 - 2048
             WHEN fr.f % 4 = 2 THEN
               (fr.doc_id * 11 + fr.f * 17) % 4096 - 2048
               + {_sine_sql('(k.k + 2) % 8')}
             ELSE
               (fr.doc_id * 11 + fr.f * 17 + k.k * 16807) % 65536 - 32768
             END) AS rsum
  FROM fr, UNNEST(range(0, 16)) AS k(k)
  GROUP BY fr.doc_id, fr.f
)
SELECT doc_id,
       CAST(2 AS INT) AS n_channels,
       CAST(COUNT(*) AS INT) AS n_frames,
       CAST(COUNT(*) * 16 AS BIGINT) AS n_samples,
       CAST(SUM(lsum) AS BIGINT) AS sum_left,
       CAST(SUM(rsum) AS BIGINT) AS sum_right,
       TRUE AS pcm_md5_ok
FROM per GROUP BY doc_id
"""




def m32_flac_surround(spark, sf_dir):
    """M32: multichannel (surround) FLAC decode (multimodal/flac.py,
    closes VERDICT r7 #4) — RFC 9639 channel assignments 0b0010-0b0111
    (3-8 independently coded channels; 5.1 layouts at id%6==3), each
    channel choosing its own subframe type (CONSTANT/FIXED/LPC/
    VERBATIM) by exact coded size, the STREAMINFO MD5 verified over
    the channel-interleaved PCM, frame channel count cross-checked
    against STREAMINFO per frame. The oracle recomputes channel
    counts, frame counts, the all-channel sample sum and channel 0's
    sum from the pure integer texture formulas via a frame x sample x
    channel UNNEST. Narrow scan -> map_rows, zero shuffle; at
    100 TB one task per audio shard, linear per-clip CPU."""
    from neuroimaging_data_pipeline_spark.multimodal.flac import (
        flac_surround_features,
        synthesize_flac_surround_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_flac_surround_clips(d, id_col="doc_id")
    return flac_surround_features(media)


M32_SQL = f"""
WITH g AS (
  SELECT doc_id, f.f AS f, k.k AS k, c.c AS c,
         CASE (f.f + c.c) % 4
           WHEN 0 THEN (doc_id * 7 + f.f * 29 + c.c * 101) % 4096 - 2048
           WHEN 1 THEN
             (doc_id * 7 + f.f * 29 + c.c * 101 + k.k * 13) % 4096 - 2048
           WHEN 2 THEN (doc_id * 7 + f.f * 29 + c.c * 101) % 4096 - 2048
                       + {_sine_sql('k.k % 8')}
           ELSE
             (doc_id * 7 + f.f * 29 + c.c * 101 + k.k * 48271) % 65536
             - 32768
         END AS v
  FROM documents,
       UNNEST(range(0, 6)) AS f(f),
       UNNEST(range(0, 16)) AS k(k),
       UNNEST(range(0, 8)) AS c(c)
  WHERE f.f < 3 + doc_id % 3 AND c.c < 3 + doc_id % 6
)
SELECT doc_id,
       CAST(3 + doc_id % 6 AS INT) AS n_channels,
       CAST(3 + doc_id % 3 AS INT) AS n_frames,
       CAST((3 + doc_id % 3) * 16 AS BIGINT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_all,
       CAST(SUM(v) FILTER (WHERE c = 0) AS BIGINT) AS sum_ch0,
       TRUE AS pcm_md5_ok
FROM g GROUP BY doc_id
"""


def m33_h264_cabac(spark, sf_dir):
    """M33: H.264 CABAC intra decode (multimodal/h264_cabac.py) —
    closes the r8 declared gate on the entropy coder virtually all
    real-world H.264 uses: the binary arithmetic engine (rangeTabLPS,
    state machine, bypass/terminate), the published I-slice context
    initialization tables, the I mb_type binarization with its
    mid-string terminate bin, neighbor-context CBP and
    coded_block_flag derivations, frame-coded significance maps and
    UEG0 level coding. Each document is a 32x32 IDR frame of MIXED
    Intra_16x16 / I_4x4 macroblocks on a checkerboard (both mb_type
    neighbor classes fire), per-4x4-constant luma at QP 0 — the
    proven-exact path — so the oracle recomputes every decoded
    sample from the id formulas. Prediction/transform are SHARED
    with the CAVLC codec (m21/m25); this query isolates the entropy
    layer. Narrow scan -> map_rows, zero shuffle; at 100 TB one
    task per video shard, linear per-frame CPU."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
        h264_cabac_frame_features,
        synthesize_h264_cabac_frames,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_cabac_frames(d, id_col="doc_id")
    return h264_cabac_frame_features(media).select(
        "doc_id",
        "width",
        "height",
        (F.round("mean_y", 6) + F.lit(0.0)).alias("mean_y"),
        "sum_y",
        "sum_cb",
        "sum_cr",
    )


M33_SQL = """
WITH blk AS (
  SELECT doc_id,
         (doc_id * 13 + by.by * 41 + bx.bx * 59) % 256 AS v
  FROM documents,
       UNNEST(range(0, 8)) AS by(by),
       UNNEST(range(0, 8)) AS bx(bx)
), cblk AS (
  SELECT doc_id,
         (doc_id * 23 + cy.cy * 31 + cx.cx * 41) % 256 AS vcb,
         (doc_id * 29 + cy.cy * 37 + cx.cx * 43) % 256 AS vcr
  FROM documents,
       UNNEST(range(0, 4)) AS cy(cy),
       UNNEST(range(0, 4)) AS cx(cx)
), agg AS (
  SELECT doc_id, SUM(v) AS sv FROM blk GROUP BY doc_id
), cagg AS (
  SELECT doc_id, SUM(vcb) AS scb, SUM(vcr) AS scr
  FROM cblk GROUP BY doc_id
)
SELECT agg.doc_id AS doc_id,
       CAST(32 AS INT) AS width,
       CAST(32 AS INT) AS height,
       (ROUND(sv / 64.0, 6) + 0.0) AS mean_y,
       CAST(sv * 16 AS BIGINT) AS sum_y,
       CAST(scb * 16 AS BIGINT) AS sum_cb,
       CAST(scr * 16 AS BIGINT) AS sum_cr
FROM agg JOIN cagg ON agg.doc_id = cagg.doc_id
"""


def m34_mp3_samples(spark, sf_dir):
    """M34: MP3 Layer III PAYLOAD decode (multimodal/mp3l3.py) —
    closes the r8 audio gate (m26 walked frame headers; payloads were
    filler). Per document a real mono Layer III stream: side-info
    parse, a LIVE bit reservoir (frames deliberately under-fill so
    main_data_begin is non-zero — corrupting an earlier frame's data
    region breaks a later frame, pinned in pytest), scalefactor
    decode with the slen table, Annex B Huffman decode of big-value
    pairs (tables 1/2/3/5/6, each a pinned complete prefix code) and
    count1 quadruples (tables A and B), down to spec-exact integer
    frequency lines; requantization to float xr is pinned in pytest.
    The oracle recomputes the per-granule line formulas and asserts
    the reservoir fact. ESC-family tables (7..31) remain a loud,
    NAMED gate. Narrow scan -> map_rows, zero shuffle; at 100 TB
    one task per audio shard, linear per-clip CPU."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        mp3_l3_features,
        synthesize_mp3_l3_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_mp3_l3_clips(d, id_col="doc_id")
    return mp3_l3_features(media)


M34_SQL = """
WITH g AS (
  SELECT doc_id, k.k AS k,
         40 + (doc_id * 7 + k.k * 11) % 30 AS big,
         8 + (doc_id + k.k) % 8 AS c1,
         CASE WHEN 1 + (doc_id + k.k) % 3 = 1 THEN 1 ELSE 2 END AS m0
  FROM documents, UNNEST(range(0, 10)) AS k(k)
  WHERE k.k < 2 * (3 + doc_id % 3)
), v AS (
  SELECT doc_id, k, i.i AS i,
         CASE
           WHEN i.i < 24 THEN
             (doc_id + k + i.i * 3) % (2 * m0 + 1) - m0
           WHEN i.i < 2 * big THEN
             (doc_id * 3 + k * 5 + i.i * 7) % 7 - 3
           ELSE (doc_id + k + (i.i - 2 * big)) % 3 - 1
         END AS val
  FROM g, UNNEST(range(0, 576)) AS i(i)
  WHERE i.i < 2 * big + 4 * c1
)
SELECT doc_id,
       CAST(3 + doc_id % 3 AS INT) AS n_frames,
       CAST(2 * (3 + doc_id % 3) AS INT) AS n_granules,
       TRUE AS reservoir_used,
       CAST(SUM(ABS(val)) AS BIGINT) AS sum_abs,
       CAST(SUM(CASE WHEN val <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nonzero,
       CAST(SUM(val * (i + 1) * (k + 1)) AS BIGINT) AS weighted_sum
FROM v GROUP BY doc_id
"""


def m35_h264_inter(spark, sf_dir):
    """M35: H.264 INTER (P-slice) decode (multimodal/h264_inter.py) —
    the round-9 stretch on the last big video gate: a real corpus is
    mostly inter frames. Per document a 2-frame sequence: an
    Intra_16x16 IDR anchor plus one CAVLC P frame with REAL
    motion-compensated prediction — per-MB full-pel motion vectors
    (partition modes cycling P_L0_16x16 / 16x8 / 8x16 with
    per-partition mvd against the 8.4.1.3 median/directional
    predictors), quarter/eighth-pel interpolation machinery
    (exercised at sub-pel fractions in pytest; fixture MVs are
    full-pel so the oracle stays formula-exact), the Table 9-4 INTER
    coded_block_pattern mapping, full 16-coefficient luma residuals
    and the shared chroma DC path. At QP 0 the whole chain is exact,
    so the oracle recomputes EVERY decoded pixel of BOTH frames —
    motion shift, edge clamping and residual delta included — in
    pure SQL. mb_skip_run / P_Skip MV derivation are pinned in
    pytest (skip MVs depend on the median rule, deliberately kept
    out of the fixture formulas). Narrow scan -> map_rows, zero
    shuffle; at 100 TB one task per video shard."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        h264_inter_frame_features,
        synthesize_h264_inter_frames,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_inter_frames(d, id_col="doc_id")
    return h264_inter_frame_features(media)


M35_SQL = """
WITH px AS (
  SELECT doc_id, py.py AS py, qx.px AS px
  FROM documents,
       UNNEST(range(0, 32)) AS py(py),
       UNNEST(range(0, 32)) AS qx(px)
), v AS (
  SELECT doc_id, py, px,
         16 + (doc_id * 13 + (py // 4) * 41 + (px // 4) * 59) % 224
           AS y0,
         LEAST(GREATEST(
           py + 4 * ((doc_id * 2 + 3 * (px // 16) + (py // 16)) % 3 - 1),
           0), 31) AS sy,
         LEAST(GREATEST(
           px + 4 * ((doc_id + (px // 16) + 2 * (py // 16)) % 3 - 1),
           0), 31) AS sx,
         (doc_id + (py // 4) * 7 + (px // 4) * 11) % 9 - 4 AS delta
  FROM px
), cpx AS (
  SELECT doc_id, cy.cy AS cy, cx.cx AS cx
  FROM documents,
       UNNEST(range(0, 16)) AS cy(cy),
       UNNEST(range(0, 16)) AS cx(cx)
), c AS (
  SELECT doc_id,
         LEAST(GREATEST(
           cy + 2 * ((doc_id * 2 + 3 * (cx // 8) + (cy // 8)) % 3 - 1),
           0), 15) AS scy,
         LEAST(GREATEST(
           cx + 2 * ((doc_id + (cx // 8) + 2 * (cy // 8)) % 3 - 1),
           0), 15) AS scx,
         (doc_id + (cy // 4) * 5 + (cx // 4) * 7) % 9 - 4 AS dcb,
         (doc_id * 3 + (cy // 4) * 3 + (cx // 4) * 5) % 9 - 4 AS dcr
  FROM cpx
), yagg AS (
  SELECT doc_id, SUM(y0) AS sy0,
         SUM(16 + (doc_id * 13 + (sy // 4) * 41 + (sx // 4) * 59) % 224
             + delta) AS sy1
  FROM v GROUP BY doc_id
), cagg AS (
  SELECT doc_id,
         SUM(16 + (doc_id * 23 + (scy // 4) * 31 + (scx // 4) * 41)
             % 200 + dcb) AS scb,
         SUM(16 + (doc_id * 29 + (scy // 4) * 37 + (scx // 4) * 43)
             % 200 + dcr) AS scr
  FROM c GROUP BY doc_id
)
SELECT yagg.doc_id AS doc_id,
       CAST(2 AS INT) AS n_frames,
       CAST(32 AS INT) AS width,
       CAST(32 AS INT) AS height,
       CAST(sy0 AS BIGINT) AS sum_y_idr,
       CAST(sy1 AS BIGINT) AS sum_y_p,
       CAST(scb AS BIGINT) AS sum_cb_p,
       CAST(scr AS BIGINT) AS sum_cr_p
FROM yagg JOIN cagg ON yagg.doc_id = cagg.doc_id
"""


def m36_h264_gop(spark, sf_dir):
    """M36: H.264 multi-reference GOP decode — the r9 P-slice
    EXTENSION (multimodal/h264_inter.py): P_8x8 sub-macroblock
    partitions (all four sub_mb_types with per-sub-partition mvd
    against z-scan median predictors), Intra_16x16 macroblocks
    INSIDE P slices (intra neighbors correctly unavailable for MV
    prediction), and TWO reference frames with te(v)-coded
    per-partition ref_idx_l0 over a sliding-window DPB. Per document
    a 3-frame 32x32 GOP: IDR anchor -> P1 (16x16 motion) -> P2 whose
    four MBs are intra-in-P / ref_idx-1-from-anchor / P_8x8-from-P1 /
    zero-MV-residual. At QP 0 the whole chain is exact, so the
    oracle recomputes EVERY decoded pixel of all three frames —
    including the two-hop composed motion (P2 sampling P1 sampling
    the anchor) — in pure SQL. Sub-pel fractions, random planes and
    every QP are pinned by bit-exact round trips in pytest. Narrow
    scan -> map_rows, zero shuffle; one task per video shard at
    100 TB."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        h264_gop_frame_features,
        synthesize_h264_gop_frames,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_gop_frames(d, id_col="doc_id")
    return h264_gop_frame_features(media)


M36_SQL = """
WITH px AS (
  SELECT doc_id, py.py AS py, qx.px AS px
  FROM documents,
       UNNEST(range(0, 32)) AS py(py),
       UNNEST(range(0, 32)) AS qx(px)
), c AS (
  SELECT doc_id, py, px,
         16 + (doc_id * 13 + (py // 4) * 41 + (px // 4) * 59) % 224
           AS y0,
         16 + (doc_id * 13
           + (LEAST(GREATEST(py + 4 * ((doc_id * 2 + 3 * (px // 16)
               + (py // 16)) % 3 - 1), 0), 31) // 4) * 41
           + (LEAST(GREATEST(px + 4 * ((doc_id + (px // 16)
               + 2 * (py // 16)) % 3 - 1), 0), 31) // 4) * 59) % 224
         + (doc_id + (py // 4) * 7 + (px // 4) * 11) % 9 - 4
           AS y1,
         LEAST(GREATEST(py + 4 * (doc_id // 3 % 3 - 1), 0), 31) AS ra,
         LEAST(GREATEST(px + 4 * (doc_id % 3 - 1), 0), 31) AS ca,
         LEAST(GREATEST(py + 4 * ((doc_id * 2 + ((px % 16) // 8
           + 2 * ((py % 16) // 8))) % 3 - 1), 0), 31) AS rb,
         LEAST(GREATEST(px + 4 * ((doc_id + ((px % 16) // 8
           + 2 * ((py % 16) // 8))) % 3 - 1), 0), 31) AS cb
  FROM px
), d AS (
  SELECT doc_id, y0, y1,
         CASE
           WHEN py < 16 AND px < 16 THEN
             16 + (doc_id * 17 + (py // 4) * 43 + (px // 4) * 61) % 224
           WHEN py < 16 THEN
             16 + (doc_id * 13 + (ra // 4) * 41 + (ca // 4) * 59) % 224
             + (doc_id * 3 + (py // 4) * 5 + (px // 4) * 13) % 9 - 4
           WHEN px < 16 THEN
             16 + (doc_id * 13
           + (LEAST(GREATEST(rb + 4 * ((doc_id * 2 + 3 * (cb // 16)
               + (rb // 16)) % 3 - 1), 0), 31) // 4) * 41
           + (LEAST(GREATEST(cb + 4 * ((doc_id + (cb // 16)
               + 2 * (rb // 16)) % 3 - 1), 0), 31) // 4) * 59) % 224
         + (doc_id + (rb // 4) * 7 + (cb // 4) * 11) % 9 - 4
             + (doc_id + (py // 4) * 3 + (px // 4) * 7) % 9 - 4
           ELSE
             y1 + (doc_id * 5 + (py // 4) * 11 + (px // 4) * 3) % 9 - 4
         END AS y2
  FROM c
), cpx AS (
  SELECT doc_id, cy.cy AS cy, cx.cx AS cx
  FROM documents,
       UNNEST(range(0, 16)) AS cy(cy),
       UNNEST(range(0, 16)) AS cx(cx)
), ch AS (
  SELECT doc_id, cy, cx,
         CASE WHEN cy < 8 AND cx >= 8 THEN
             LEAST(GREATEST(cy + 2 * (doc_id // 3 % 3 - 1), 0), 15)
           WHEN cy >= 8 AND cx < 8 THEN
             LEAST(GREATEST(cy + 2 * ((doc_id * 2 + ((cx % 8) // 4
               + 2 * ((cy % 8) // 4))) % 3 - 1), 0), 15)
           ELSE cy END AS sy,
         CASE WHEN cy < 8 AND cx >= 8 THEN
             LEAST(GREATEST(cx + 2 * (doc_id % 3 - 1), 0), 15)
           WHEN cy >= 8 AND cx < 8 THEN
             LEAST(GREATEST(cx + 2 * ((doc_id + ((cx % 8) // 4
               + 2 * ((cy % 8) // 4))) % 3 - 1), 0), 15)
           ELSE cx END AS sx
  FROM cpx
), ch2 AS (
  SELECT doc_id, cy, cx, sy, sx,
         LEAST(GREATEST(sy + 2 * ((doc_id * 2 + 3 * (sx // 8)
           + (sy // 8)) % 3 - 1), 0), 15) AS ay,
         LEAST(GREATEST(sx + 2 * ((doc_id + (sx // 8)
           + 2 * (sy // 8)) % 3 - 1), 0), 15) AS ax
  FROM ch
), cval AS (
  SELECT doc_id,
         CASE
           WHEN cy < 8 AND cx < 8 THEN
             16 + (doc_id * 31 + (cy // 4) * 29 + (cx // 4) * 47) % 200
           WHEN cy < 8 THEN
             16 + (doc_id * 23 + (sy // 4) * 31 + (sx // 4) * 41) % 200
             + (doc_id * 3 + (cy // 4) * 5 + (cx // 4) * 13) % 9 - 4
           WHEN cx < 8 THEN
             16 + (doc_id * 23 + (ay // 4) * 31 + (ax // 4) * 41) % 200
             + (doc_id + (sy // 4) * 5 + (sx // 4) * 7) % 9 - 4
             + (doc_id + (cy // 4) * 3 + (cx // 4) * 7) % 9 - 4
           ELSE
             16 + (doc_id * 23 + (ay // 4) * 31 + (ax // 4) * 41) % 200
             + (doc_id + (sy // 4) * 5 + (sx // 4) * 7) % 9 - 4
             + (doc_id * 5 + (cy // 4) * 11 + (cx // 4) * 3) % 9 - 4
         END AS cb2,
         CASE
           WHEN cy < 8 AND cx < 8 THEN
             16 + (doc_id * 37 + (cy // 4) * 23 + (cx // 4) * 41) % 200
           WHEN cy < 8 THEN
             16 + (doc_id * 29 + (sy // 4) * 37 + (sx // 4) * 43) % 200
             + (doc_id * 7 + (cy // 4) * 7 + (cx // 4) * 11) % 9 - 4
           WHEN cx < 8 THEN
             16 + (doc_id * 29 + (ay // 4) * 37 + (ax // 4) * 43) % 200
             + (doc_id * 3 + (sy // 4) * 3 + (sx // 4) * 5) % 9 - 4
             + (doc_id * 5 + (cy // 4) * 9 + (cx // 4) * 3) % 9 - 4
           ELSE
             16 + (doc_id * 29 + (ay // 4) * 37 + (ax // 4) * 43) % 200
             + (doc_id * 3 + (sy // 4) * 3 + (sx // 4) * 5) % 9 - 4
             + (doc_id * 9 + (cy // 4) * 13 + (cx // 4) * 5) % 9 - 4
         END AS cr2
  FROM ch2
), yagg AS (
  SELECT doc_id, SUM(y0) AS sy0, SUM(y1) AS sy1, SUM(y2) AS sy2
  FROM d GROUP BY doc_id
), cagg AS (
  SELECT doc_id, SUM(cb2) AS scb2, SUM(cr2) AS scr2
  FROM cval GROUP BY doc_id
)
SELECT yagg.doc_id AS doc_id,
       CAST(3 AS INT) AS n_frames,
       CAST(32 AS INT) AS width,
       CAST(32 AS INT) AS height,
       CAST(sy0 AS BIGINT) AS sum_y_idr,
       CAST(sy1 AS BIGINT) AS sum_y_p1,
       CAST(sy2 AS BIGINT) AS sum_y_p2,
       CAST(scb2 AS BIGINT) AS sum_cb_p2,
       CAST(scr2 AS BIGINT) AS sum_cr_p2
FROM yagg JOIN cagg ON yagg.doc_id = cagg.doc_id
"""



def m40_h264_mp4(spark, sf_dir):
    """M40: H.264-INSIDE-MP4 end-to-end (multimodal/h264_mp4.py) —
    the shape real video corpora actually arrive in: an ``avc1``
    track whose SPS/PPS travel OUT-OF-BAND in the avcC box
    (AVCDecoderConfigurationRecord, ISO 14496-15 §5.3.3.1) and whose
    access units are 4-byte LENGTH-PREFIXED NAL units resolved
    through the stts/stsc/stsz/stco sample tables (samples split
    across two chunks). Per document the m36 multi-reference GOP
    (IDR -> P1 -> P2 with intra-in-P / ref_idx 1 / P_8x8 / zero-MV
    regions) is muxed into MP4 and decoded back out container-first:
    stsd walk -> avcC parse -> per-sample NAL re-framing -> the
    from-scratch CAVLC inter decoder. At QP 0 the pixel chain is
    exact, so the oracle recomputes every decoded pixel of all three
    frames (the m36 formulas) in pure SQL, plus the container
    constants the demux must produce (sample count, baseline
    profile 66 / level 20 from the SPS bytes avcC copies, NAL length
    size, stsd dimensions). Narrow scan -> map_rows, zero
    shuffle; one task per video shard at 100 TB."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
        h264_mp4_frame_features,
        synthesize_h264_mp4_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_mp4_clips(d, id_col="doc_id")
    return h264_mp4_frame_features(media)


# The pixel oracle IS the m36 formula family (the mux wraps the same
# fixture); the container adds formula-constant columns.
def _m40_sql() -> str:
    out = M36_SQL.replace(
        """CAST(3 AS INT) AS n_frames,
       CAST(32 AS INT) AS width,""",
        """CAST(3 AS INT) AS n_samples,
       CAST(66 AS INT) AS avc_profile,
       CAST(20 AS INT) AS avc_level,
       CAST(4 AS INT) AS nal_length_size,
       CAST(32 AS INT) AS width,""",
    )
    # ADVICE r10: a silent no-op here (M36_SQL reformatted) would ship
    # the m36 column set as the m40 oracle and fail only at driver time.
    assert out != M36_SQL, "_m40_sql: M36_SQL anchor text changed"
    return out


def m41_mp3_intensity(spark, sf_dir):
    """M41: MP3 mid-range Huffman tables + INTENSITY STEREO
    (multimodal/mp3l3.py, r10) — per document a STEREO Layer III
    stream (mode_extension intensity bit): frame 0 long-block
    granules decode through the newly transcribed Annex B tables
    7/10/12 (left, values to the table limits +-5/+-7) and 8/9
    (right), frame 1 pure-short granules through 9/10 and 8. The
    right channels zero out above line 36, so the long granules hit
    the band-8 intensity bound and the short granules hit PER-WINDOW
    bounds at band 3; right-channel scalefactors above the bound are
    intensity positions, pan ratio tan(is_pos*pi/12). The oracle
    recomputes the integer lines of all 8 granules exactly (sum_abs /
    n_nonzero / order-weighted checksum — any Huffman mistranscription
    desyncs these) and the intensity-panned xr channel sums via
    POWER/TAN, both sides rounded to 3 decimals (the m39/w8 grouping
    exception class). Every shipped table is pinned as a complete
    prefix code in pytest; tables 11/13/15 and the ESC code tables
    16/24 remain loud gates (the linbits mechanism itself is
    implemented and pinned). Narrow scan -> map_rows, zero
    shuffle; one task per audio shard at 100 TB."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        mp3_intensity_features,
        synthesize_mp3_intensity_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_mp3_intensity_clips(d, id_col="doc_id")
    return mp3_intensity_features(media)


M41_SQL = """
WITH pairs AS (
  SELECT doc_id, p.p AS p FROM documents, UNNEST(range(0, 4)) AS p(p)
), g AS (
  SELECT doc_id, p,
         CASE WHEN p < 2 THEN 50 + (doc_id + p) % 10
              ELSE 40 + (doc_id + p) % 6 END AS bigl,
         CASE WHEN p < 2 THEN 4 + (doc_id + p) % 4 ELSE 0 END AS c1,
         POWER(2, (206 + doc_id % 8 - 210) / 4.0) AS ga,
         POWER(2, (200 + doc_id % 8 - 210) / 4.0) AS gb
  FROM pairs
), v AS (
  SELECT doc_id, p, i.i AS i, bigl, c1, ga, gb,
         -- left-granule line value
         CASE
           WHEN p < 2 THEN CASE
             WHEN i.i < 20 THEN (doc_id + p + i.i * 3) % 11 - 5
             WHEN i.i < 62 THEN (doc_id * 3 + p + i.i * 5) % 15 - 7
             WHEN i.i < 2 * bigl THEN
               (doc_id + p * 5 + i.i * 7) % 15 - 7
             WHEN i.i < 2 * bigl + 4 * c1 THEN
               (doc_id + p + (i.i - 2 * bigl)) % 3 - 1
             ELSE 0 END
           ELSE CASE
             WHEN i.i < 36 THEN (doc_id + p + i.i * 3) % 11 - 5
             WHEN i.i < 2 * bigl THEN
               (doc_id * 5 + p + i.i * 7) % 15 - 7
             ELSE 0 END
         END AS vl,
         -- right-granule line value (zero above 36)
         CASE WHEN i.i < 36 THEN (doc_id + p + i.i * 3) % 11 - 5
              ELSE 0 END AS vr,
         -- intensity position for line i (NULL below the bound)
         CASE
           WHEN i.i < 36 THEN NULL
           WHEN p < 2 THEN (doc_id + CASE
             WHEN i.i < 44 THEN 8 WHEN i.i < 52 THEN 9
             WHEN i.i < 62 THEN 10 WHEN i.i < 74 THEN 11
             WHEN i.i < 90 THEN 12 WHEN i.i < 110 THEN 13
             WHEN i.i < 134 THEN 14 ELSE 15 END) % 3
           ELSE (doc_id + CASE
             WHEN i.i < 48 THEN 3 + (i.i - 36) // 4
             WHEN i.i < 66 THEN 4 + (i.i - 48) // 6
             ELSE 5 + (i.i - 66) // 8 END) % 3
         END AS ipos
  FROM g, UNNEST(range(0, 162)) AS i(i)
), x AS (
  SELECT doc_id, p, i, vl, vr,
         SIGN(vl) * POWER(ABS(vl), 4.0 / 3.0) * ga AS xl,
         SIGN(vr) * POWER(ABS(vr), 4.0 / 3.0) * gb AS xr,
         CASE WHEN ipos IS NULL THEN NULL
              ELSE TAN(ipos * PI() / 12) END AS ratio
  FROM v
)
SELECT doc_id,
       CAST(8 AS INT) AS n_granules,
       CAST(SUM(CASE WHEN vl <> 0 THEN ABS(vl) ELSE 0 END
              + CASE WHEN vr <> 0 THEN ABS(vr) ELSE 0 END)
            AS BIGINT) AS sum_abs,
       CAST(SUM(CASE WHEN vl <> 0 THEN 1 ELSE 0 END
              + CASE WHEN vr <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nonzero,
       CAST(SUM(vl * (i + 1) * (2 * p + 1)
              + vr * (i + 1) * (2 * p + 2)) AS BIGINT)
         AS weighted_sum,
       ROUND(SUM(CASE WHEN ratio IS NULL THEN xl
                      ELSE xl * ratio / (1 + ratio) END), 3)
         AS sum_xl,
       ROUND(SUM(CASE WHEN ratio IS NULL THEN xr
                      ELSE xl * 1 / (1 + ratio) END), 3)
         AS sum_xr
FROM x GROUP BY doc_id
"""


def m37_h264_bslice(spark, sf_dir):
    """M37: H.264 B-SLICE decode (multimodal/h264_bslice.py) — the
    bi-predictive frame family: POC-type-0 framing (decode order !=
    display order), 8.2.4.2.3 reference-list initialization (list0 =
    nearest past by POC, list1 = nearest future), Table 7-14 B
    macroblock types with per-list MV prediction and the
    mvd_l0-then-mvd_l1 syntax order, and DEFAULT unweighted
    bi-prediction (predL0 + predL1 + 1) >> 1. Per document a 3-frame
    32x32 GOP in decode order IDR(poc 0) -> P(poc 4) -> B(poc 2)
    whose four B macroblocks are L0-from-anchor / L1-from-future-P /
    Bi rounded average / mixed 16x8 (top L0, bottom L1). At QP 0
    every stage is exact, so the oracle recomputes EVERY decoded
    pixel of all three frames in pure SQL — including the rounded
    bi-predictive average and the two-hop P composition — plus the
    display rank of the B frame. Full QP/mb_type coverage is pinned
    by bit-exact round trips in pytest. Narrow scan -> map_rows,
    zero shuffle; one task per video shard at 100 TB."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
        h264_b_frame_features,
        synthesize_h264_b_frames,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_b_frames(d, id_col="doc_id")
    return h264_b_frame_features(media)


M37_SQL = """
WITH px AS (
  SELECT doc_id, py.py AS py, qx.px AS px
  FROM documents,
       UNNEST(range(0, 32)) AS py(py),
       UNNEST(range(0, 32)) AS qx(px)
), c AS (
  SELECT doc_id, py, px,
         16 + (doc_id * 13 + (py // 4) * 41 + (px // 4) * 59) % 224 AS y0,
         16 + (doc_id * 13
           + (LEAST(GREATEST(py + 4 * ((doc_id * 2 + 3 * (px // 16)
               + (py // 16)) % 3 - 1), 0), 31) // 4) * 41
           + (LEAST(GREATEST(px + 4 * ((doc_id + (px // 16)
               + 2 * (py // 16)) % 3 - 1), 0), 31) // 4) * 59) % 224
         + (doc_id + (py // 4) * 7 + (px // 4) * 11) % 9 - 4 AS y1,
         (doc_id + ((px % 16) // 8 + 2 * ((py % 16) // 8))) % 3 AS usek,
         LEAST(GREATEST(py + 4 * ((doc_id * 2) % 3 - 1), 0), 31) AS ra,
         LEAST(GREATEST(px + 4 * ((doc_id + 1) % 3 - 1), 0), 31) AS ca,
         LEAST(GREATEST(py + 4 * ((doc_id + 2) % 3 - 1), 0), 31) AS rb,
         LEAST(GREATEST(px + 4 * ((doc_id * 2 + 1) % 3 - 1), 0), 31) AS cb,
         LEAST(GREATEST(py + 4 * ((doc_id * 2 + ((px % 16) // 8 + 2 * ((py % 16) // 8))) % 3 - 1), 0), 31) AS r0,
         LEAST(GREATEST(px + 4 * ((doc_id + ((px % 16) // 8 + 2 * ((py % 16) // 8))) % 3 - 1), 0), 31) AS c0,
         LEAST(GREATEST(py + 4 * ((doc_id * 2 + ((px % 16) // 8 + 2 * ((py % 16) // 8)) + 2) % 3 - 1), 0), 31) AS r9,
         LEAST(GREATEST(px + 4 * ((doc_id + ((px % 16) // 8 + 2 * ((py % 16) // 8)) + 1) % 3 - 1), 0), 31) AS c9,
         LEAST(GREATEST(py + 4 * ((doc_id * 2) % 3 - 1), 0), 31) AS rt,
         LEAST(GREATEST(px + 4 * ((doc_id + 1) % 3 - 1), 0), 31) AS ct,
         LEAST(GREATEST(py + 4 * ((doc_id + 1) % 3 - 1), 0), 31) AS ru,
         LEAST(GREATEST(px + 4 * ((doc_id * 2 + 2) % 3 - 1), 0), 31) AS cu
  FROM px
), d AS (
  SELECT doc_id, y0, y1,
         CASE
           WHEN py < 16 AND px < 16 THEN
             16 + (doc_id * 13 + (ra // 4) * 41 + (ca // 4) * 59) % 224
             + (doc_id + (py // 4) * 7 + (px // 4) * 11) % 9 - 4
           WHEN py < 16 THEN
             (16 + (doc_id * 13
           + (LEAST(GREATEST(rb + 4 * ((doc_id * 2 + 3 * (cb // 16)
               + (rb // 16)) % 3 - 1), 0), 31) // 4) * 41
           + (LEAST(GREATEST(cb + 4 * ((doc_id + (cb // 16)
               + 2 * (rb // 16)) % 3 - 1), 0), 31) // 4) * 59) % 224
         + (doc_id + (rb // 4) * 7 + (cb // 4) * 11) % 9 - 4)
             + (doc_id * 3 + (py // 4) * 5 + (px // 4) * 13) % 9 - 4
           WHEN px < 16 THEN
             CASE usek
               WHEN 0 THEN 16 + (doc_id * 13 + (r0 // 4) * 41 + (c0 // 4) * 59) % 224
               WHEN 1 THEN (16 + (doc_id * 13
           + (LEAST(GREATEST(r9 + 4 * ((doc_id * 2 + 3 * (c9 // 16)
               + (r9 // 16)) % 3 - 1), 0), 31) // 4) * 41
           + (LEAST(GREATEST(c9 + 4 * ((doc_id + (c9 // 16)
               + 2 * (r9 // 16)) % 3 - 1), 0), 31) // 4) * 59) % 224
         + (doc_id + (r9 // 4) * 7 + (c9 // 4) * 11) % 9 - 4)
               ELSE ((16 + (doc_id * 13 + (r0 // 4) * 41 + (c0 // 4) * 59) % 224)
                     + (16 + (doc_id * 13
           + (LEAST(GREATEST(r9 + 4 * ((doc_id * 2 + 3 * (c9 // 16)
               + (r9 // 16)) % 3 - 1), 0), 31) // 4) * 41
           + (LEAST(GREATEST(c9 + 4 * ((doc_id + (c9 // 16)
               + 2 * (r9 // 16)) % 3 - 1), 0), 31) // 4) * 59) % 224
         + (doc_id + (r9 // 4) * 7 + (c9 // 4) * 11) % 9 - 4) + 1) // 2
             END
             + (doc_id + (py // 4) * 3 + (px // 4) * 7) % 9 - 4
           WHEN py < 24 THEN
             16 + (doc_id * 13 + (rt // 4) * 41 + (ct // 4) * 59) % 224
             + (doc_id * 5 + (py // 4) * 11 + (px // 4) * 3) % 9 - 4
           ELSE
             (16 + (doc_id * 13
           + (LEAST(GREATEST(ru + 4 * ((doc_id * 2 + 3 * (cu // 16)
               + (ru // 16)) % 3 - 1), 0), 31) // 4) * 41
           + (LEAST(GREATEST(cu + 4 * ((doc_id + (cu // 16)
               + 2 * (ru // 16)) % 3 - 1), 0), 31) // 4) * 59) % 224
         + (doc_id + (ru // 4) * 7 + (cu // 4) * 11) % 9 - 4)
             + (doc_id * 5 + (py // 4) * 11 + (px // 4) * 3) % 9 - 4
         END AS yb
  FROM c
), cpx AS (
  SELECT doc_id, cy.cy AS cy, cx.cx AS cx
  FROM documents,
       UNNEST(range(0, 16)) AS cy(cy),
       UNNEST(range(0, 16)) AS cx(cx)
), chh AS (
  SELECT doc_id, cy, cx,
         (cx % 8) // 4 + 2 * ((cy % 8) // 4) AS ckk
  FROM cpx
), chs AS (
  SELECT doc_id, cy, cx, ckk,
         -- anchor-list source coords (regions A, C-q0, D-top)
         CASE
           WHEN cy < 8 AND cx < 8 THEN
             LEAST(GREATEST(cy + 2 * ((doc_id * 2) % 3 - 1), 0), 15)
           WHEN cy >= 8 AND cx < 8 THEN
             LEAST(GREATEST(cy + 2 * ((doc_id * 2 + ckk) % 3 - 1),
               0), 15)
           WHEN cy >= 8 AND cy < 12 AND cx >= 8 THEN
             LEAST(GREATEST(cy + 2 * ((doc_id * 2) % 3 - 1), 0), 15)
           ELSE NULL END AS s0y,
         CASE
           WHEN cy < 8 AND cx < 8 THEN
             LEAST(GREATEST(cx + 2 * ((doc_id + 1) % 3 - 1), 0), 15)
           WHEN cy >= 8 AND cx < 8 THEN
             LEAST(GREATEST(cx + 2 * ((doc_id + ckk) % 3 - 1), 0), 15)
           WHEN cy >= 8 AND cy < 12 AND cx >= 8 THEN
             LEAST(GREATEST(cx + 2 * ((doc_id + 1) % 3 - 1), 0), 15)
           ELSE NULL END AS s0x,
         -- P-list source coords (regions B, C-q1, D-bottom)
         CASE
           WHEN cy < 8 AND cx >= 8 THEN
             LEAST(GREATEST(cy + 2 * ((doc_id + 2) % 3 - 1), 0), 15)
           WHEN cy >= 8 AND cx < 8 THEN
             LEAST(GREATEST(cy + 2 * ((doc_id * 2 + ckk + 2) % 3 - 1),
               0), 15)
           WHEN cy >= 12 AND cx >= 8 THEN
             LEAST(GREATEST(cy + 2 * ((doc_id + 1) % 3 - 1), 0), 15)
           ELSE NULL END AS s1y,
         CASE
           WHEN cy < 8 AND cx >= 8 THEN
             LEAST(GREATEST(cx + 2 * ((doc_id * 2 + 1) % 3 - 1),
               0), 15)
           WHEN cy >= 8 AND cx < 8 THEN
             LEAST(GREATEST(cx + 2 * ((doc_id + ckk + 1) % 3 - 1),
               0), 15)
           WHEN cy >= 12 AND cx >= 8 THEN
             LEAST(GREATEST(cx + 2 * ((doc_id * 2 + 2) % 3 - 1),
               0), 15)
           ELSE NULL END AS s1x
  FROM chh
), chv AS (
  SELECT doc_id, cy, cx, ckk, s0y, s0x, s1y, s1x,
         -- anchor value at the anchor-list source
         16 + (doc_id * 23 + (s0y // 4) * 31 + (s0x // 4) * 41) % 200
           AS q0b,
         16 + (doc_id * 29 + (s0y // 4) * 37 + (s0x // 4) * 43) % 200
           AS q0r,
         -- P-frame value at the P-list source (one more anchor hop)
         16 + (doc_id * 23
           + (LEAST(GREATEST(s1y + 2 * ((doc_id * 2 + 3 * (s1x // 8)
               + (s1y // 8)) % 3 - 1), 0), 15) // 4) * 31
           + (LEAST(GREATEST(s1x + 2 * ((doc_id + (s1x // 8)
               + 2 * (s1y // 8)) % 3 - 1), 0), 15) // 4) * 41) % 200
         + (doc_id + (s1y // 4) * 5 + (s1x // 4) * 7) % 9 - 4 AS q1b,
         16 + (doc_id * 29
           + (LEAST(GREATEST(s1y + 2 * ((doc_id * 2 + 3 * (s1x // 8)
               + (s1y // 8)) % 3 - 1), 0), 15) // 4) * 37
           + (LEAST(GREATEST(s1x + 2 * ((doc_id + (s1x // 8)
               + 2 * (s1y // 8)) % 3 - 1), 0), 15) // 4) * 43) % 200
         + (doc_id * 3 + (s1y // 4) * 3 + (s1x // 4) * 5) % 9 - 4
           AS q1r
  FROM chs
), cval AS (
  SELECT doc_id,
         CASE
           WHEN cy < 8 AND cx < 8 THEN
             q0b + (doc_id + (cy // 4) * 5 + (cx // 4) * 7) % 9 - 4
           WHEN cy < 8 THEN
             q1b + (doc_id * 3 + (cy // 4) * 5 + (cx // 4) * 13)
               % 9 - 4
           WHEN cx < 8 THEN
             CASE (doc_id + ckk) % 3
               WHEN 0 THEN q0b WHEN 1 THEN q1b
               ELSE (q0b + q1b + 1) // 2 END
             + (doc_id + (cy // 4) * 3 + (cx // 4) * 7) % 9 - 4
           WHEN cy < 12 THEN
             q0b + (doc_id * 5 + (cy // 4) * 11 + (cx // 4) * 3)
               % 9 - 4
           ELSE
             q1b + (doc_id * 5 + (cy // 4) * 11 + (cx // 4) * 3)
               % 9 - 4
         END AS cbb,
         CASE
           WHEN cy < 8 AND cx < 8 THEN
             q0r + (doc_id * 3 + (cy // 4) * 3 + (cx // 4) * 5)
               % 9 - 4
           WHEN cy < 8 THEN
             q1r + (doc_id * 7 + (cy // 4) * 7 + (cx // 4) * 11)
               % 9 - 4
           WHEN cx < 8 THEN
             CASE (doc_id + ckk) % 3
               WHEN 0 THEN q0r WHEN 1 THEN q1r
               ELSE (q0r + q1r + 1) // 2 END
             + (doc_id * 5 + (cy // 4) * 9 + (cx // 4) * 3) % 9 - 4
           WHEN cy < 12 THEN
             q0r + (doc_id * 9 + (cy // 4) * 13 + (cx // 4) * 5)
               % 9 - 4
           ELSE
             q1r + (doc_id * 9 + (cy // 4) * 13 + (cx // 4) * 5)
               % 9 - 4
         END AS crb
  FROM chv
), yagg AS (
  SELECT doc_id, SUM(y0) AS sy0, SUM(y1) AS sy1, SUM(yb) AS syb
  FROM d GROUP BY doc_id
), cagg AS (
  SELECT doc_id, SUM(cbb) AS scb, SUM(crb) AS scr
  FROM cval GROUP BY doc_id
)
SELECT yagg.doc_id AS doc_id,
       CAST(3 AS INT) AS n_frames,
       CAST(32 AS INT) AS width,
       CAST(32 AS INT) AS height,
       CAST(1 AS INT) AS b_display_idx,
       CAST(sy0 AS BIGINT) AS sum_y_idr,
       CAST(sy1 AS BIGINT) AS sum_y_p,
       CAST(syb AS BIGINT) AS sum_y_b,
       CAST(scb AS BIGINT) AS sum_cb_b,
       CAST(scr AS BIGINT) AS sum_cr_b
FROM yagg JOIN cagg ON yagg.doc_id = cagg.doc_id
"""



def m42_h264_deblock(spark, sf_dir):
    """M42: H.264 IN-LOOP DEBLOCKING (multimodal/h264_deblock.py,
    clause 8.7) — the last normative decode stage, r10. Per document
    a 2-frame 16x64 sequence with disable_deblocking_filter_idc 0: a
    QP-28 Intra_16x16 IDR of four stacked per-MB-constant plateaus
    (QP 28 is the exact lattice: every luma value and every even
    chroma value codes losslessly — probed exhaustively, pinned in
    pytest — while alpha/beta at index 28 are 20/7, so the filter
    genuinely fires), then a P frame of explicit zero-MV
    zero-residual macroblocks predicting from the FILTERED anchor.
    The formula deltas span all three edge classes (strong 3-tap run
    |D| < 7, weak p0-only 7..19, untouched >= 20), and the oracle
    recomputes the filtered sums in closed form INCLUDING the
    second-order pass (the spec's sequential edge order makes the
    next internal bS-3 edge re-adjust q2 by clip3(+-tc0) — a real
    8.7 subtlety the SQL reproduces). p_equals_filtered_idr pins the
    in-loop semantics: the P frame must equal the deblocked anchor
    bit-for-bit (bS 0 on every P edge). Narrow scan -> map_rows,
    zero shuffle; one task per video shard at 100 TB."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (
        h264_deblock_features,
        synthesize_h264_deblock_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_deblock_clips(d, id_col="doc_id")
    return h264_deblock_features(media)


M42_SQL = """
WITH base AS (
  SELECT doc_id,
         108 + doc_id % 40 AS v0,
         (doc_id * 7) % 45 - 22 AS dv0,
         (doc_id * 7 + 11) % 45 - 22 AS dv1,
         (doc_id * 7 + 22) % 45 - 22 AS dv2,
         128 + 2 * (doc_id % 20 - 10) AS b0,
         2 * ((doc_id * 5) % 23 - 11) AS db0,
         2 * ((doc_id * 5 + 13) % 23 - 11) AS db1,
         2 * ((doc_id * 5 + 26) % 23 - 11) AS db2,
         120 + 2 * (doc_id % 24 - 12) AS r0,
         2 * ((doc_id * 3) % 23 - 11) AS dr0,
         2 * ((doc_id * 3 + 17) % 23 - 11) AS dr1,
         2 * ((doc_id * 3 + 34) % 23 - 11) AS dr2
  FROM documents
), vals AS (
  SELECT doc_id,
         v0, v0 + dv0 AS v1, v0 + dv0 + dv1 AS v2,
         v0 + dv0 + dv1 + dv2 AS v3,
         b0, b0 + db0 AS b1, b0 + db0 + db1 AS b2,
         b0 + db0 + db1 + db2 AS b3,
         r0, r0 + dr0 AS r1, r0 + dr0 + dr1 AS r2,
         r0 + dr0 + dr1 + dr2 AS r3
  FROM base
), edges AS (
  SELECT doc_id, e.e AS e,
         CASE e.e WHEN 0 THEN v0 WHEN 1 THEN v1 ELSE v2 END AS lp,
         CASE e.e WHEN 0 THEN v1 WHEN 1 THEN v2 ELSE v3 END AS lq,
         CASE e.e WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END AS bp,
         CASE e.e WHEN 0 THEN b1 WHEN 1 THEN b2 ELSE b3 END AS bq,
         CASE e.e WHEN 0 THEN r0 WHEN 1 THEN r1 ELSE r2 END AS rp,
         CASE e.e WHEN 0 THEN r1 WHEN 1 THEN r2 ELSE r3 END AS rq
  FROM vals, UNNEST(range(0, 3)) AS e(e)
), adj AS (
  SELECT doc_id,
         CASE WHEN ABS(lq - lp) >= 20 THEN 0
           WHEN ABS(lq - lp) < 7 THEN 16 * (
             ((5 * lp + 3 * lq + 4) >> 3) + ((3 * lp + lq + 2) >> 2)
             + ((7 * lp + lq + 4) >> 3)
             + ((5 * lq + 3 * lp + 4) >> 3) + ((3 * lq + lp + 2) >> 2)
             + ((7 * lq + lp + 4) >> 3)
             + GREATEST(-2, LEAST(2,
                 (((3 * lq + lp + 2) >> 2) + lq
                  - 2 * ((7 * lq + lp + 4) >> 3)) >> 1))
             - 3 * lp - 3 * lq)
           ELSE 16 * (((3 * lp + lq + 2) >> 2)
                      + ((3 * lq + lp + 2) >> 2) - lp - lq)
         END AS al,
         CASE WHEN ABS(bq - bp) >= 20 THEN 0
           ELSE 8 * (((3 * bp + bq + 2) >> 2)
                     + ((3 * bq + bp + 2) >> 2) - bp - bq)
         END AS ab,
         CASE WHEN ABS(rq - rp) >= 20 THEN 0
           ELSE 8 * (((3 * rp + rq + 2) >> 2)
                     + ((3 * rq + rp + 2) >> 2) - rp - rq)
         END AS ar
  FROM edges
), asum AS (
  SELECT doc_id, SUM(al) AS sal, SUM(ab) AS sab, SUM(ar) AS sar
  FROM adj GROUP BY doc_id
)
SELECT vals.doc_id AS doc_id,
       CAST(2 AS INT) AS n_frames,
       CAST(16 AS INT) AS width,
       CAST(64 AS INT) AS height,
       CAST(256 * (v0 + v1 + v2 + v3) + sal AS BIGINT) AS sum_y,
       CAST(64 * (b0 + b1 + b2 + b3) + sab AS BIGINT) AS sum_cb,
       CAST(64 * (r0 + r1 + r2 + r3) + sar AS BIGINT) AS sum_cr,
       TRUE AS p_equals_filtered_idr
FROM vals JOIN asum ON vals.doc_id = asum.doc_id
"""


def m44_h264_longgop(spark, sf_dir):
    """M44: LONG-GOP MULTI-REFERENCE H.264 (r11: num_refs > 2,
    ref_idx_l0 as true te(v) — ue(v) coding when three references
    are active; multimodal/h264_inter.py). Per document a 5-frame
    QP-0 GOP at num_refs=3 whose P macroblocks are zero-MV with
    per-4x4 formula residuals, each picking a DIFFERENT reference
    (refIdx cycles through every active one), so each frame's pixels
    are the referenced frame's pixels plus a delta — a closed-form
    chain of reference choices the oracle re-derives with four
    nested CASEs. A mis-decoded ue(v) ref_idx lands on the wrong
    base frame and breaks every downstream sum. Narrow scan ->
    map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        h264_longgop_features,
        synthesize_h264_longgop_frames,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_longgop_frames(d, id_col="doc_id")
    return h264_longgop_features(media)


M44_SQL = """
WITH px AS (
  SELECT doc_id, py.py AS py, qx.px AS px
  FROM documents,
       UNNEST(range(0, 32)) AS py(py),
       UNNEST(range(0, 32)) AS qx(px)
), base AS (
  SELECT doc_id, py, px,
         (px // 16) + 2 * (py // 16) AS m,
         py // 4 AS by, px // 4 AS bx,
         16 + (doc_id * 13 + (py // 4) * 41 + (px // 4) * 59) % 224
           AS y0
  FROM px
), f1 AS (
  SELECT *, y0 + (doc_id * 3 + by * 6 + bx * 9 + m * 3) % 9 - 4 AS y1
  FROM base
), f2 AS (
  SELECT *,
         (CASE (doc_id + 2 + m) % 2 WHEN 0 THEN y1 ELSE y0 END)
         + (doc_id * 5 + by * 7 + bx * 11 + m * 3) % 9 - 4 AS y2
  FROM f1
), f3 AS (
  SELECT *,
         (CASE (doc_id + 3 + m) % 3
            WHEN 0 THEN y2 WHEN 1 THEN y1 ELSE y0 END)
         + (doc_id * 7 + by * 8 + bx * 13 + m * 3) % 9 - 4 AS y3
  FROM f2
), f4 AS (
  SELECT *,
         (CASE (doc_id + 4 + m) % 3
            WHEN 0 THEN y3 WHEN 1 THEN y2 ELSE y1 END)
         + (doc_id * 9 + by * 9 + bx * 15 + m * 3) % 9 - 4 AS y4
  FROM f3
), yagg AS (
  SELECT doc_id, SUM(y1) AS s1, SUM(y2) AS s2, SUM(y3) AS s3,
         SUM(y4) AS s4
  FROM f4 GROUP BY doc_id
), cpx AS (
  SELECT doc_id, cy.cy AS cy, cx.cx AS cx
  FROM documents,
       UNNEST(range(0, 16)) AS cy(cy),
       UNNEST(range(0, 16)) AS cx(cx)
), cbase AS (
  SELECT doc_id, cy, cx,
         (cx // 8) + 2 * (cy // 8) AS m,
         cy // 4 AS by, cx // 4 AS bx,
         16 + (doc_id * 23 + (cy // 4) * 31 + (cx // 4) * 41) % 200
           AS b0,
         16 + (doc_id * 29 + (cy // 4) * 37 + (cx // 4) * 43) % 200
           AS r0
  FROM cpx
), c1 AS (
  SELECT *,
         b0 + ((3 * doc_id + 1) * 3 + by * 6 + bx * 9 + m * 3) % 9 - 4
           AS b1,
         r0 + ((5 * doc_id + 2) * 3 + by * 6 + bx * 9 + m * 3) % 9 - 4
           AS r1
  FROM cbase
), c2 AS (
  SELECT *,
         (CASE (doc_id + 2 + m) % 2 WHEN 0 THEN b1 ELSE b0 END)
         + ((3 * doc_id + 1) * 5 + by * 7 + bx * 11 + m * 3) % 9 - 4
           AS b2,
         (CASE (doc_id + 2 + m) % 2 WHEN 0 THEN r1 ELSE r0 END)
         + ((5 * doc_id + 2) * 5 + by * 7 + bx * 11 + m * 3) % 9 - 4
           AS r2
  FROM c1
), c3 AS (
  SELECT *,
         (CASE (doc_id + 3 + m) % 3
            WHEN 0 THEN b2 WHEN 1 THEN b1 ELSE b0 END)
         + ((3 * doc_id + 1) * 7 + by * 8 + bx * 13 + m * 3) % 9 - 4
           AS b3,
         (CASE (doc_id + 3 + m) % 3
            WHEN 0 THEN r2 WHEN 1 THEN r1 ELSE r0 END)
         + ((5 * doc_id + 2) * 7 + by * 8 + bx * 13 + m * 3) % 9 - 4
           AS r3
  FROM c2
), c4 AS (
  SELECT *,
         (CASE (doc_id + 4 + m) % 3
            WHEN 0 THEN b3 WHEN 1 THEN b2 ELSE b1 END)
         + ((3 * doc_id + 1) * 9 + by * 9 + bx * 15 + m * 3) % 9 - 4
           AS b4,
         (CASE (doc_id + 4 + m) % 3
            WHEN 0 THEN r3 WHEN 1 THEN r2 ELSE r1 END)
         + ((5 * doc_id + 2) * 9 + by * 9 + bx * 15 + m * 3) % 9 - 4
           AS r4
  FROM c3
), cagg AS (
  SELECT doc_id, SUM(b4) AS sb4, SUM(r4) AS sr4
  FROM c4 GROUP BY doc_id
)
SELECT yagg.doc_id AS doc_id,
       CAST(5 AS INT) AS n_frames,
       CAST(s1 AS BIGINT) AS sum_y_f1,
       CAST(s2 AS BIGINT) AS sum_y_f2,
       CAST(s3 AS BIGINT) AS sum_y_f3,
       CAST(s4 AS BIGINT) AS sum_y_f4,
       CAST(sb4 AS BIGINT) AS sum_cb_f4,
       CAST(sr4 AS BIGINT) AS sum_cr_f4
FROM yagg JOIN cagg ON yagg.doc_id = cagg.doc_id
"""


def m45_h264_bpyramid(spark, sf_dir):
    """M45: B-PYRAMID / REFERENCE B PICTURES (r11,
    multimodal/h264_bslice.py) — hierarchical GOPs, the structure
    real encoders emit: a reference B (nal_ref_idc 2,
    dec_ref_pic_marking in the slice header) enters the DPB with its
    single-list colocated motion view, and later B pictures predict
    FROM it through both lists (decode order IDR(0) P(8) Bref(4)
    B(2) B(6); B(2) references {IDR, Bref}, B(6) {Bref, P}). QP-0
    zero-MV fixture with per-4x4 formula residuals and per-MB list
    usage cycling l0/bi/l1, so every frame is a closed-form chain
    over its two reference frames (bi = (l0+l1+1) >> 1) the oracle
    re-derives; a mis-wired reference-B DPB entry shifts every sum.
    poc_seq_ok pins the decode-order/POC contract. Narrow scan ->
    map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
        h264_bpyramid_features,
        synthesize_h264_bpyramid_frames,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_bpyramid_frames(d, id_col="doc_id")
    return h264_bpyramid_features(media)


M45_SQL = """
WITH px AS (
  SELECT doc_id, py.py AS py, qx.px AS px
  FROM documents,
       UNNEST(range(0, 32)) AS py(py),
       UNNEST(range(0, 32)) AS qx(px)
), yb AS (
  SELECT doc_id, py, px,
         (px // 16) + 2 * (py // 16) AS m,
         py // 4 AS by, px // 4 AS bx,
         16 + (doc_id * 13 + (py // 4) * 41 + (px // 4) * 59) % 224
           AS y0
  FROM px
), yp AS (
  SELECT *, y0 + (doc_id * 3 + by * 6 + bx * 9 + m * 3) % 9 - 4 AS p
  FROM yb
), y4 AS (
  SELECT *,
         (CASE (doc_id + m + 4) % 3
            WHEN 0 THEN y0 WHEN 1 THEN (y0 + p + 1) >> 1 ELSE p END)
         + (doc_id * 9 + by * 9 + bx * 15 + m * 3) % 9 - 4 AS b4
  FROM yp
), y2 AS (
  SELECT *,
         (CASE (doc_id + m + 2) % 3
            WHEN 0 THEN y0 WHEN 1 THEN (y0 + b4 + 1) >> 1
            ELSE b4 END)
         + (doc_id * 5 + by * 7 + bx * 11 + m * 3) % 9 - 4 AS b2
  FROM y4
), y6 AS (
  SELECT *,
         (CASE (doc_id + m + 6) % 3
            WHEN 0 THEN b4 WHEN 1 THEN (b4 + p + 1) >> 1 ELSE p END)
         + (doc_id * 13 + by * 11 + bx * 19 + m * 3) % 9 - 4 AS b6
  FROM y2
), yagg AS (
  SELECT doc_id, SUM(b4) AS s4, SUM(b2) AS s2, SUM(b6) AS s6
  FROM y6 GROUP BY doc_id
), cpx AS (
  SELECT doc_id, cy.cy AS cy, cx.cx AS cx
  FROM documents,
       UNNEST(range(0, 16)) AS cy(cy),
       UNNEST(range(0, 16)) AS cx(cx)
), cb AS (
  SELECT doc_id, cy, cx,
         (cx // 8) + 2 * (cy // 8) AS m,
         cy // 4 AS by, cx // 4 AS bx,
         16 + (doc_id * 23 + (cy // 4) * 31 + (cx // 4) * 41) % 200
           AS b0,
         16 + (doc_id * 29 + (cy // 4) * 37 + (cx // 4) * 43) % 200
           AS r0
  FROM cpx
), cp AS (
  SELECT *,
         b0 + ((3 * doc_id + 1) * 3 + by * 6 + bx * 9 + m * 3) % 9 - 4
           AS bp,
         r0 + ((5 * doc_id + 2) * 3 + by * 6 + bx * 9 + m * 3) % 9 - 4
           AS rp
  FROM cb
), c4 AS (
  SELECT *,
         (CASE (doc_id + m + 4) % 3
            WHEN 0 THEN b0 WHEN 1 THEN (b0 + bp + 1) >> 1 ELSE bp END)
         + ((3 * doc_id + 1) * 9 + by * 9 + bx * 15 + m * 3) % 9 - 4
           AS b4,
         (CASE (doc_id + m + 4) % 3
            WHEN 0 THEN r0 WHEN 1 THEN (r0 + rp + 1) >> 1 ELSE rp END)
         + ((5 * doc_id + 2) * 9 + by * 9 + bx * 15 + m * 3) % 9 - 4
           AS r4
  FROM cp
), c6 AS (
  SELECT *,
         (CASE (doc_id + m + 6) % 3
            WHEN 0 THEN b4 WHEN 1 THEN (b4 + bp + 1) >> 1 ELSE bp END)
         + ((3 * doc_id + 1) * 13 + by * 11 + bx * 19 + m * 3) % 9 - 4
           AS b6,
         (CASE (doc_id + m + 6) % 3
            WHEN 0 THEN r4 WHEN 1 THEN (r4 + rp + 1) >> 1 ELSE rp END)
         + ((5 * doc_id + 2) * 13 + by * 11 + bx * 19 + m * 3) % 9 - 4
           AS r6
  FROM c4
), cagg AS (
  SELECT doc_id, SUM(b6) AS sb6, SUM(r6) AS sr6
  FROM c6 GROUP BY doc_id
)
SELECT yagg.doc_id AS doc_id,
       CAST(5 AS INT) AS n_frames,
       TRUE AS poc_seq_ok,
       CAST(s4 AS BIGINT) AS sum_y_bref,
       CAST(s2 AS BIGINT) AS sum_y_b2,
       CAST(s6 AS BIGINT) AS sum_y_b6,
       CAST(sb6 AS BIGINT) AS sum_cb_b6,
       CAST(sr6 AS BIGINT) AS sum_cr_b6
FROM yagg JOIN cagg ON yagg.doc_id = cagg.doc_id
"""


def e15_mp4_shard_pipeline(spark, sf_dir):
    """E15: the COMPOSED CONTAINER-FIRST video pipeline — e13's
    sibling for the shape real video corpora actually ship in:
    WebDataset-style USTAR tar shards whose members are MP4 FILES
    (the m40 fixture: avc1 sample entry, out-of-band avcC parameter
    sets, 4-byte length-prefixed samples, two-chunk stsc/stco
    mapping, wrapping the m36 multi-ref CAVLC GOP). The pipeline
    reverses the entire stack per shard — tar member walk, MP4 box
    parse, avcC extraction, length-prefix re-framing, CAVLC entropy
    decode + motion compensation over the DPB — verifies the
    container metadata against the decoded stream, and pins exact
    reassembly with an ORDER-PINNED md5 over five per-document
    decoded-plane checksums. Any bit-level bug in the tar, box,
    avcC, framing or codec layer breaks the hash. Shape at 100 TB:
    ONE pack shuffle (groupBy shard), a deliberate re-spread after
    it (the e13 AQE-coalesce lesson), then a single narrow
    decode+aggregate task per shard."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
        synthesize_h264_mp4_clips,
    )
    from neuroimaging_data_pipeline_spark.multimodal.mp4_shard_helpers import (  # noqa: E501
        decode_mp4_shard_features,
    )
    from neuroimaging_data_pipeline_spark.multimodal.tar import tar_shards

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_mp4_clips(d, id_col="doc_id")
    shards = tar_shards(media, "mp4")
    ncores = spark.sparkContext.defaultParallelism
    return decode_mp4_shard_features(shards.repartition(ncores))


def _e15_sql() -> str:
    # the per-doc pixel oracle IS the m36 formula family (the MP4
    # wraps the same fixture) — embed M36_SQL and aggregate per
    # shard with the same order-pinned md5 convention as e13/e14
    return (
        "WITH perdoc AS (" + M36_SQL + """)
SELECT CAST(doc_id // 25 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(3 * COUNT(*) AS BIGINT) AS n_samples_total,
       CAST(SUM(sum_y_p2) AS BIGINT) AS sum_y_p2_total,
       md5(string_agg(
         doc_id || ':' || sum_y_idr || ':' || sum_y_p1 || ':'
           || sum_y_p2 || ':' || sum_cb_p2 || ':' || sum_cr_p2,
         '|' ORDER BY doc_id)) AS docs_md5
FROM perdoc GROUP BY 1
""")


def e16_mp4_ffmpeg_pipeline(spark, sf_dir):
    """E16: the e15 tar-of-MP4 pipeline routed through the FFMPEG
    DECODER BOUNDARY (multimodal/binaryops.py decoder='ffmpeg', the
    production decode path at 100 TB) as a first-class, tested
    pipeline rather than a docstring. Per shard: tar member walk,
    MP4 box parse, avcC extraction, Annex-B re-framing, then (a) the
    from-scratch CAVLC+DPB decode — always, the source of every
    emitted feature so the oracle is machine-independent — and (b)
    when the ffmpeg binary is on PATH, a REAL decode of the same
    Annex-B stream through ffmpeg with a bit-exact luma cross-check
    per frame (divergence raises, never passes silently; the streams
    disable the in-loop filter so nominal output IS the
    reconstruction). Features: per-shard member count, total frame
    count, the sum over every frame's luma plane, and an
    ORDER-PINNED md5 over per-doc per-frame luma sums. Shape at
    100 TB: one pack shuffle, re-spread, one narrow decode task per
    shard — with the per-member decode handed to a native binary."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
        synthesize_h264_mp4_clips,
    )
    from neuroimaging_data_pipeline_spark.multimodal.mp4_shard_helpers import (  # noqa: E501
        decode_mp4_shard_features_xcheck,
    )
    from neuroimaging_data_pipeline_spark.multimodal.tar import tar_shards

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_mp4_clips(d, id_col="doc_id")
    shards = tar_shards(media, "mp4")
    ncores = spark.sparkContext.defaultParallelism
    return decode_mp4_shard_features_xcheck(shards.repartition(ncores))


def _e16_sql() -> str:
    # per-frame luma sums ARE the m36 formula family's per-frame
    # columns (the MP4 wraps the same fixture): 3 frames per doc
    return (
        "WITH perdoc AS (" + M36_SQL + """)
SELECT CAST(doc_id // 25 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(3 * COUNT(*) AS BIGINT) AS n_frames_total,
       CAST(SUM(sum_y_idr + sum_y_p1 + sum_y_p2) AS BIGINT)
         AS sum_y_frames_total,
       md5(string_agg(
         doc_id || ':' || sum_y_idr || ':' || sum_y_p1 || ':'
           || sum_y_p2,
         '|' ORDER BY doc_id)) AS frames_md5
FROM perdoc GROUP BY 1
""")


def m43_h264_bdeblock(spark, sf_dir):
    """M43: B-SLICE IN-LOOP DEBLOCKING (multimodal/h264_deblock.py
    + h264_bslice.py, r11) — clause 8.7 completed for every slice
    type the engine emits. Per document a 3-frame 16x64 POC-type-0
    sequence (IDR poc 0, all-skip P poc 8, non-reference B poc 4)
    with disable_deblocking_filter_idc 0 in every slice header
    (incl. the 7.3.3 slice_alpha/beta_offset fields). The anchor's
    plateau deltas all sit at/above alpha(28) = 20, so the filter
    RUNS but the anchor stays the exact QP-28 lattice; the B frame
    re-orders the plateaus via per-MB motion with mixed list usage
    (l0 / bi / l1 / l0-shifted), so the 8.7.2.1 B boundary-strength
    rules decide real edges: edge 16 fires via 'different number of
    motion vectors' (l0-only vs bi), edge 48 via 'different
    reference pictures' (l1 from the future picture vs l0 from the
    past). The normal filter's p0/p1/q0/q1 updates land at known
    rows, pinned by position-weighted checksums the oracle
    recomputes in closed form — a mis-derived bS 0 shifts every
    value. Narrow scan -> map_rows, zero shuffle; one task per
    video shard at 100 TB."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (
        h264_bdeblock_features,
        synthesize_h264_bdeblock_clips,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_bdeblock_clips(d, id_col="doc_id")
    return h264_bdeblock_features(media)


# Closed forms mirror _m43_values/_m43_luma_adj: D/A/B are the bS-1
# normal-filter updates on constant plateaus (tc0 1 at index 28 =>
# luma tc 3, chroma tc 2); DuckDB's >> is an arithmetic shift, same
# floor semantics as numpy's.
M43_SQL = """
WITH params AS (
  SELECT doc_id,
         80 + doc_id % 30 AS v0,
         26 + (doc_id * 7) % 5 AS e0,
         (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END)
           * (1 + (doc_id * 5) % 6) AS d1,
         7 + (doc_id * 3) % 13 AS d2m,
         120 + 2 * (doc_id % 12) AS cb0,
         26 + 2 * ((doc_id * 3) % 3) AS ec0,
         (CASE WHEN doc_id % 4 < 2 THEN 1 ELSE -1 END)
           * (2 + 2 * ((doc_id * 5) % 3)) AS dc1,
         8 + 2 * ((doc_id * 7) % 6) AS dc2m,
         116 + 2 * (doc_id % 14) AS cr0,
         26 + 2 * ((doc_id * 7) % 3) AS er0,
         (CASE WHEN doc_id % 8 < 4 THEN 1 ELSE -1 END)
           * (2 + 2 * ((doc_id * 11) % 3)) AS dr1,
         8 + 2 * ((doc_id * 5) % 6) AS dr2m
  FROM documents
), vals AS (
  SELECT doc_id, v0, v0 + e0 AS v1, v0 + d1 AS v2,
         v0 + e0 + d2m AS v3, d1, -d2m AS d2,
         cb0, cb0 + ec0 AS cb1, cb0 + dc1 AS cb2,
         cb0 + ec0 + dc2m AS cb3, dc1, -dc2m AS dc2,
         cr0, cr0 + er0 AS cr1, cr0 + dr1 AS cr2,
         cr0 + er0 + dr2m AS cr3, dr1, -dr2m AS dr2
  FROM params
), adj AS (
  SELECT doc_id,
         GREATEST(-3, LEAST(3, (3 * d1 + 4) >> 3)) AS dd1,
         GREATEST(-1, LEAST(1, ((d1 + 1) >> 1) >> 1)) AS a1,
         GREATEST(-1, LEAST(1, (((d1 + 1) >> 1) - d1) >> 1)) AS b1,
         GREATEST(-3, LEAST(3, (3 * d2 + 4) >> 3)) AS dd2,
         GREATEST(-1, LEAST(1, ((d2 + 1) >> 1) >> 1)) AS a2,
         GREATEST(-1, LEAST(1, (((d2 + 1) >> 1) - d2) >> 1)) AS b2,
         GREATEST(-2, LEAST(2, (3 * dc1 + 4) >> 3)) AS e1,
         GREATEST(-2, LEAST(2, (3 * dc2 + 4) >> 3)) AS e2,
         GREATEST(-2, LEAST(2, (3 * dr1 + 4) >> 3)) AS f1,
         GREATEST(-2, LEAST(2, (3 * dr2 + 4) >> 3)) AS f2
  FROM vals
)
SELECT vals.doc_id AS doc_id,
       CAST(3 AS INT) AS n_frames,
       CAST(16 AS INT) AS width,
       CAST(64 AS INT) AS height,
       CAST(256 * (v0 + v1 + v2 + v3)
            + 16 * (a1 + b1 + a2 + b2) AS BIGINT) AS sum_y_b,
       CAST(16 * (136 * v0 + 392 * v2 + 648 * v3 + 904 * v1
                  + 15 * a1 + 18 * b1 - dd1
                  + 47 * a2 + 50 * b2 - dd2) AS BIGINT) AS wsum_y_b,
       CAST(8 * (36 * cb0 + 100 * cb2 + 164 * cb3 + 228 * cb1
                 - e1 - e2) AS BIGINT) AS wsum_cb_b,
       CAST(8 * (36 * cr0 + 100 * cr2 + 164 * cr3 + 228 * cr1
                 - f1 - f2) AS BIGINT) AS wsum_cr_b,
       TRUE AS p_equals_idr
FROM vals JOIN adj ON vals.doc_id = adj.doc_id
"""


def m38_jpeg_hierarchical(spark, sf_dir):
    """M38: JPEG HIERARCHICAL mode (T.81 Annex J,
    multimodal/jpeg_hier.py) — the last JPEG coding-mode gap: a DHP
    hierarchical-progression header, a non-differential SOF0 base
    frame at 8x8, then TWO EXP reference expansions (the J.1.1.2
    (a + b + 1) >> 1 interpolation filter) each followed by a
    DIFFERENTIAL sequential-DCT frame (SOF5, no level shift,
    extended-range Huffman tables, per-frame DC prediction). The
    fixture keeps intermediate levels constant and the final 32x32
    level per-8x8-block constant, so every differential frame is
    DC-only and the pyramid round-trips bit-exactly at unit
    quantization — the oracle recomputes each level's pixels from
    the id formulas. Interpolation arithmetic and lossy random
    pyramids are pinned in pytest. Narrow scan -> map_rows, zero
    shuffle; one task per image shard at 100 TB."""
    from neuroimaging_data_pipeline_spark.multimodal.jpeg_hier import (
        jpeg_hier_features,
        synthesize_jpeg_hier_images,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_jpeg_hier_images(d, id_col="doc_id")
    return jpeg_hier_features(media)


M38_SQL = """
WITH blocks AS (
  SELECT doc_id, b.by AS by, c.bx AS bx
  FROM documents,
       UNNEST(range(0, 4)) AS b(by),
       UNNEST(range(0, 4)) AS c(bx)
)
SELECT doc_id,
       CAST(3 AS INT) AS n_levels,
       CAST(32 AS INT) AS width,
       CAST(32 AS INT) AS height,
       CAST(16 + (doc_id * 29) % 224 AS INT) AS base_val,
       CAST(16 + (doc_id * 57) % 224 AS INT) AS mid_val,
       CAST(SUM(64 * (16 + (doc_id * 13 + by * 37 + bx * 53) % 224))
         AS BIGINT) AS sum_y_final
FROM blocks GROUP BY doc_id
"""



def m39_mp3_subband(spark, sf_dir):
    """M39: MP3 HYBRID FILTERBANK (multimodal/mp3synth.py) — the
    time-domain continuation of m34's spec-exact frequency lines:
    alias-reduction butterflies (eight per adjacent-subband
    boundary), the 36-point IMDCT with the closed-form sine window,
    granule overlap-add, and frequency inversion, producing the
    18x32 subband time samples the polyphase stage consumes (the
    polyphase 512-tap Table B.3 window is the declared remaining
    gate). The oracle exploits LINEARITY: the per-(granule, subband)
    sum of 18 output samples collapses IMDCT + window + overlap-add
    + inversion into an 18-term dot product with constants DuckDB
    computes from the same closed forms — so pure SQL recomputes the
    features from the fixture's integer lines through requantization
    (POWER), alias butterflies (a position self-join) and the
    constant dot. Both sides round to 3 decimals: the engines sum
    identical doubles in different groupings (the w8/IVF exception
    class; observed divergence ~1e-10 vs the 5e-4 boundary).
    Short/mixed-block and MS-stereo paths are pinned by bit-exact
    encoder<->decoder round trips and TDAC perfect-reconstruction
    tests in pytest. Narrow scan -> map_rows, zero shuffle."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        synthesize_mp3_l3_clips,
    )
    from neuroimaging_data_pipeline_spark.multimodal.mp3synth import (
        mp3_subband_features,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_mp3_l3_clips(d, id_col="doc_id")
    return mp3_subband_features(media)


M39_SQL = """
WITH g AS (
  SELECT doc_id, k.k AS k,
         40 + (doc_id * 7 + k.k * 11) % 30 AS big,
         8 + (doc_id + k.k) % 8 AS c1,
         CASE WHEN 1 + (doc_id + k.k) % 3 = 1 THEN 1 ELSE 2 END AS m0,
         120 + (doc_id + k.k) % 64 AS gg,
         (doc_id + k.k) % 16 AS scomp,
         (doc_id + k.k) % 2 AS preflag,
         0.5 * (doc_id % 2 + 1) AS mult
  FROM documents, UNNEST(range(0, 10)) AS k(k)
  WHERE k.k < 2 * (3 + doc_id % 3)
), slen(idx, s1, s2) AS (VALUES
  (0,0,0),(1,0,1),(2,0,2),(3,0,3),(4,3,0),(5,1,1),(6,1,2),(7,1,3),
  (8,2,1),(9,2,2),(10,2,3),(11,3,1),(12,3,2),(13,3,3),(14,4,2),(15,4,3)
), bands(b, lo, hi, pre) AS (VALUES
  (0,0,4,0),(1,4,8,0),(2,8,12,0),(3,12,16,0),(4,16,20,0),(5,20,24,0),
  (6,24,30,0),(7,30,36,0),(8,36,44,0),(9,44,52,0),(10,52,62,0),
  (11,62,74,1),(12,74,90,1),(13,90,110,1),(14,110,134,1),(15,134,162,2),
  (16,162,196,2),(17,196,238,3),(18,238,288,3),(19,288,342,3),
  (20,342,418,2),(21,418,576,0)
), ib AS (
  -- per-line metadata, 576 rows: scalefactor band + the alias
  -- butterfly partner position and coefficient index (NULL when the
  -- line is not part of a butterfly)
  SELECT i.i AS i, b.b AS b, b.pre AS pre,
         CASE
           WHEN i.i % 18 >= 10 AND i.i // 18 < 31 THEN
             (i.i // 18 + 1) * 18 + (17 - i.i % 18)
           WHEN i.i % 18 <= 7 AND i.i // 18 > 0 THEN
             (i.i // 18) * 18 - 1 - (i.i % 18)
         END AS part_i,
         CASE
           WHEN i.i % 18 >= 10 AND i.i // 18 < 31 THEN 17 - i.i % 18
           WHEN i.i % 18 <= 7 AND i.i // 18 > 0 THEN i.i % 18
         END AS ai,
         CASE WHEN i.i % 18 >= 10 THEN -1.0 ELSE 1.0 END AS bside
  FROM UNNEST(range(0, 576)) AS i(i)
  JOIN bands b ON i.i >= b.lo AND i.i < b.hi
), ac(ai, cs, ca) AS (
  SELECT ai, 1.0 / SQRT(1.0 + ci * ci) AS cs,
         ci * (1.0 / SQRT(1.0 + ci * ci)) AS ca
  FROM (VALUES (0,-0.6),(1,-0.535),(2,-0.33),(3,-0.185),(4,-0.095),
               (5,-0.041),(6,-0.0142),(7,-0.0037)) AS t(ai, ci)
), x AS (
  -- requantized lines over the coded region + butterfly reach
  -- (positions past 2*big + 4*c1 + 26 are zero AND have zero
  -- partners, so they cannot contribute to any output)
  SELECT v.doc_id, v.k, v.i, v.part_i, v.ai, v.bside,
         SIGN(v.val) * POWER(ABS(v.val), 4.0 / 3.0)
         * POWER(2.0, (v.gg - 210) / 4.0)
         * POWER(2.0, -v.mult * (
             CASE WHEN v.b < 21 THEN
               (CASE WHEN (CASE WHEN v.b < 11 THEN sl.s1 ELSE sl.s2
                           END) = 0 THEN 0
                ELSE (v.doc_id + v.k + v.b)
                     % (1 << (CASE WHEN v.b < 11 THEN sl.s1
                              ELSE sl.s2 END)) END)
               + v.preflag * v.pre
             ELSE 0 END)) AS xr
  FROM (
    SELECT g.*, ib.i, ib.b, ib.pre, ib.part_i, ib.ai, ib.bside,
           CASE
             WHEN ib.i < 24 THEN
               (doc_id + k + ib.i * 3) % (2 * m0 + 1) - m0
             WHEN ib.i < 2 * big THEN
               (doc_id * 3 + k * 5 + ib.i * 7) % 7 - 3
             WHEN ib.i < 2 * big + 4 * c1 THEN
               (doc_id + k + (ib.i - 2 * big)) % 3 - 1
             ELSE 0
           END AS val
    FROM g JOIN ib ON ib.i < 2 * big + 4 * c1 + 26
  ) v
  JOIN slen sl ON sl.idx = v.scomp
), ar AS (
  SELECT x.doc_id, x.k, x.i,
         CASE
           WHEN x.ai IS NULL THEN x.xr
           ELSE x.xr * c.cs + x.bside * COALESCE(p.xr, 0.0) * c.ca
         END AS xr
  FROM x
  LEFT JOIN x p ON p.doc_id = x.doc_id AND p.k = x.k
    AND p.i = x.part_i
  LEFT JOIN ac c ON c.ai = x.ai
), consts AS (
  SELECT t.t AS t, p.p AS par,
         SUM((CASE WHEN p.p = 1 AND j.j % 2 = 1 THEN -1.0 ELSE 1.0 END)
             * SIN(PI() / 36 * (j.j + 0.5))
             * COS(PI() / 72 * (2 * j.j + 1 + 18) * (2 * t.t + 1)))
           AS a_c,
         SUM((CASE WHEN p.p = 1 AND j.j % 2 = 1 THEN -1.0 ELSE 1.0 END)
             * SIN(PI() / 36 * (j.j + 18 + 0.5))
             * COS(PI() / 72 * (2 * (j.j + 18) + 1 + 18)
                   * (2 * t.t + 1))) AS b_c
  FROM UNNEST(range(0, 18)) AS t(t), UNNEST(range(0, 2)) AS p(p),
       UNNEST(range(0, 18)) AS j(j)
  GROUP BY t.t, p.p
), cur AS (
  SELECT ar.doc_id, ar.k, ar.i // 18 AS sb,
         SUM(ar.xr * c.a_c) AS s_cur,
         SUM(ar.xr * c.b_c) AS s_tail
  FROM ar
  JOIN consts c ON c.t = ar.i % 18 AND c.par = (ar.i // 18) % 2
  GROUP BY ar.doc_id, ar.k, ar.i // 18
), grid AS (
  SELECT g.doc_id, g.k, sb.sb AS sb
  FROM g, UNNEST(range(0, 32)) AS sb(sb)
), s AS (
  SELECT grid.doc_id, grid.k, grid.sb,
         COALESCE(c1.s_cur, 0.0) + COALESCE(c0.s_tail, 0.0) AS sval
  FROM grid
  LEFT JOIN cur c1 ON c1.doc_id = grid.doc_id AND c1.k = grid.k
    AND c1.sb = grid.sb
  LEFT JOIN cur c0 ON c0.doc_id = grid.doc_id AND c0.sb = grid.sb
    AND c0.k = grid.k - 1
)
SELECT doc_id,
       CAST(2 * (3 + doc_id % 3) AS INT) AS n_granules,
       ROUND(SUM(ABS(sval)), 3) AS sum_abs_s,
       ROUND(SUM(sval * (k + 1) * (sb + 1)), 3) AS weighted_s
FROM s GROUP BY doc_id
"""



def e13_video_shard_pipeline(spark, sf_dir):
    """E13: the COMPOSED VIDEO corpus pipeline — the multimodal
    sibling of e11/e12's compressed-text chains, exercising the r9
    video stack end to end in the WebDataset shape a training corpus
    actually uses: per-document 3-frame multi-ref H.264 GOPs (the
    m36 fixture: P_8x8 sub-partitions, intra-in-P, te(v) ref_idx)
    are packed 25-per-shard into REAL USTAR tar archives (the
    from-scratch writer in multimodal/tar.py), then the pipeline
    reverses the whole stack — tar member walk, Annex B NAL parse,
    CAVLC entropy decode, motion compensation over the DPB — and
    pins exact per-shard reassembly with an ORDER-PINNED md5 over
    per-document decoded-frame checksums. Any bit-level bug anywhere
    in the container or codec chain breaks the hash. Shape at
    100 TB: ONE pack shuffle (groupBy shard), then a single narrow
    decode+aggregate task per shard — tar members stream in-task,
    nothing widens."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_gop_helpers import (  # noqa: E501
        decode_shard_features,
    )
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        synthesize_h264_gop_frames,
    )
    from neuroimaging_data_pipeline_spark.multimodal.tar import tar_shards

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_h264_gop_frames(d, id_col="doc_id")
    shards = tar_shards(media, "h264")
    # AQE coalesces the tiny pack shuffle (~KBs) to 1-2 partitions,
    # which would serialize the EXPENSIVE per-shard Python decode —
    # the classic post-shuffle-CPU blind spot. Re-spread the shards
    # across the executor cores before the decode stage (at 100 TB
    # the shard count dwarfs the cores and this is a no-op).
    ncores = spark.sparkContext.defaultParallelism
    return decode_shard_features(shards.repartition(ncores))


E13_SQL = """
WITH px AS (
  SELECT doc_id, py.py AS py, qx.px AS px
  FROM documents,
       UNNEST(range(0, 32)) AS py(py),
       UNNEST(range(0, 32)) AS qx(px)
), c AS (
  SELECT doc_id, py, px,
         16 + (doc_id * 13
           + (LEAST(GREATEST(py + 4 * ((doc_id * 2 + 3 * (px // 16)
               + (py // 16)) % 3 - 1), 0), 31) // 4) * 41
           + (LEAST(GREATEST(px + 4 * ((doc_id + (px // 16)
               + 2 * (py // 16)) % 3 - 1), 0), 31) // 4) * 59) % 224
         + (doc_id + (py // 4) * 7 + (px // 4) * 11) % 9 - 4
           AS y1,
         LEAST(GREATEST(py + 4 * (doc_id // 3 % 3 - 1), 0), 31) AS ra,
         LEAST(GREATEST(px + 4 * (doc_id % 3 - 1), 0), 31) AS ca,
         LEAST(GREATEST(py + 4 * ((doc_id * 2 + ((px % 16) // 8
           + 2 * ((py % 16) // 8))) % 3 - 1), 0), 31) AS rb,
         LEAST(GREATEST(px + 4 * ((doc_id + ((px % 16) // 8
           + 2 * ((py % 16) // 8))) % 3 - 1), 0), 31) AS cb
  FROM px
), d AS (
  SELECT doc_id,
         CASE
           WHEN py < 16 AND px < 16 THEN
             16 + (doc_id * 17 + (py // 4) * 43 + (px // 4) * 61) % 224
           WHEN py < 16 THEN
             16 + (doc_id * 13 + (ra // 4) * 41 + (ca // 4) * 59) % 224
             + (doc_id * 3 + (py // 4) * 5 + (px // 4) * 13) % 9 - 4
           WHEN px < 16 THEN
             16 + (doc_id * 13
           + (LEAST(GREATEST(rb + 4 * ((doc_id * 2 + 3 * (cb // 16)
               + (rb // 16)) % 3 - 1), 0), 31) // 4) * 41
           + (LEAST(GREATEST(cb + 4 * ((doc_id + (cb // 16)
               + 2 * (rb // 16)) % 3 - 1), 0), 31) // 4) * 59) % 224
         + (doc_id + (rb // 4) * 7 + (cb // 4) * 11) % 9 - 4
             + (doc_id + (py // 4) * 3 + (px // 4) * 7) % 9 - 4
           ELSE
             y1 + (doc_id * 5 + (py // 4) * 11 + (px // 4) * 3) % 9 - 4
         END AS y2
  FROM c
), perdoc AS (
  SELECT doc_id, CAST(SUM(y2) AS BIGINT) AS sum_y_p2
  FROM d GROUP BY doc_id
)
SELECT CAST(doc_id // 25 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(sum_y_p2) AS BIGINT) AS sum_y_p2_total,
       md5(string_agg(doc_id || ':' || sum_y_p2, '|' ORDER BY doc_id))
         AS docs_md5
FROM perdoc GROUP BY 1
"""



def e14_audio_shard_pipeline(spark, sf_dir):
    """E14: the COMPOSED AUDIO corpus pipeline — e13's sibling for
    the audio stack, in the WebDataset shape an audio training
    corpus uses: per-document mono MP3 Layer III streams (the m34
    fixture: live bit reservoir, scfsi-free long-block granules,
    Huffman tables 1/2/3/5/6) are packed 25-per-shard into REAL
    USTAR tar archives, then the pipeline reverses the whole stack —
    tar member walk, MPEG frame-header hop, bit-reservoir
    reassembly across frames, side info, scalefactors, Annex B
    Huffman decode down to integer spectral lines — and pins exact
    per-shard reassembly with an ORDER-PINNED md5 over per-document
    order-weighted spectral checksums. Any bit-level bug anywhere in
    the container, framing or entropy chain breaks the hash. Shape
    at 100 TB: ONE pack shuffle (groupBy shard), a deliberate
    re-spread after it (the e13 AQE-coalesce lesson), then a single
    narrow decode+aggregate task per shard."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3_shard_helpers import (  # noqa: E501
        decode_mp3_shard_features,
    )
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        synthesize_mp3_l3_clips,
    )
    from neuroimaging_data_pipeline_spark.multimodal.tar import tar_shards

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_mp3_l3_clips(d, id_col="doc_id")
    shards = tar_shards(media, "mp3")
    ncores = spark.sparkContext.defaultParallelism
    return decode_mp3_shard_features(shards.repartition(ncores))


E14_SQL = """
WITH g AS (
  SELECT doc_id, k.k AS k,
         40 + (doc_id * 7 + k.k * 11) % 30 AS big,
         8 + (doc_id + k.k) % 8 AS c1,
         CASE WHEN 1 + (doc_id + k.k) % 3 = 1 THEN 1 ELSE 2 END AS m0
  FROM documents, UNNEST(range(0, 10)) AS k(k)
  WHERE k.k < 2 * (3 + doc_id % 3)
), v AS (
  SELECT doc_id, k, i.i AS i,
         CASE
           WHEN i.i < 24 THEN
             (doc_id + k + i.i * 3) % (2 * m0 + 1) - m0
           WHEN i.i < 2 * big THEN
             (doc_id * 3 + k * 5 + i.i * 7) % 7 - 3
           ELSE (doc_id + k + (i.i - 2 * big)) % 3 - 1
         END AS val
  FROM g, UNNEST(range(0, 576)) AS i(i)
  WHERE i.i < 2 * big + 4 * c1
), perdoc AS (
  SELECT doc_id,
         CAST(2 * (3 + doc_id % 3) AS BIGINT) AS n_granules,
         CAST(SUM(val * (i + 1) * (k + 1)) AS BIGINT) AS wsum
  FROM v GROUP BY doc_id
)
SELECT CAST(doc_id // 25 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_granules) AS BIGINT) AS n_granules_total,
       CAST(SUM(wsum) AS BIGINT) AS wsum_total,
       md5(string_agg(doc_id || ':' || wsum, '|' ORDER BY doc_id))
         AS docs_md5
FROM perdoc GROUP BY 1
"""


def m31_lzma_alone(spark, sf_dir):
    """M31: LZMA decode from scratch (sources/lzma_alone.py) — the
    deepest entropy coder in the repo: an adaptive binary RANGE CODER
    (11-bit probabilities, 2^24 normalization, direct bits, bit trees
    and reverse trees) driving LZ77 with the 12-state machine, the
    rep0-rep3 distance cache, matched literals and the shared
    SpecPos/Align position trees. STDLIB liblzma is the reference
    WRITER: members ship at id-cycled presets (0/1/6/9e) plus
    non-default lc/lp/pb filters for id%5==0, and the decoder must
    reproduce them bit-exactly — the md5 oracle breaks on ANY
    divergence anywhere in the coder. Repetitive tails (id%3==0)
    keep long matches and the rep cache hot. One narrow map_rows
    pass, zero shuffle."""
    from neuroimaging_data_pipeline_spark.sources.lzma_alone import (
        lzma_documents,
        synthesize_lzma_docs,
    )

    d = read_table(spark, sf_dir, "documents", min_partitions="cores")
    media = synthesize_lzma_docs(d, id_col="doc_id", text_col="text")
    return lzma_documents(media)


M31_SQL = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 3 END AS INT) AS lc,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END AS INT) AS lp,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END AS INT) AS pb,
       FALSE AS size_known,
       CAST(strlen(text)
            + CASE WHEN doc_id % 3 = 0
              THEN 3 * (20 + doc_id % 9) ELSE 0 END AS BIGINT)
         AS content_len,
       md5(text || CASE WHEN doc_id % 3 = 0
           THEN repeat(' xz', 20 + doc_id % 9) ELSE '' END) AS text_md5
FROM documents
"""

QUERIES = {
    "m8_mp4_meta": m8_mp4_meta,
    "m16_mjpeg_frames": m16_mjpeg_frames,
    "m17_gif_frames": m17_gif_frames,
    "m13_tar_samples": m13_tar_samples,
    "m14_jsonl_shards": m14_jsonl_shards,
    "m15_bmp_stats": m15_bmp_stats,
    "m10_audio_frames": m10_audio_frames,
    "m12_png_interlaced": m12_png_interlaced,
    "e4_multimodal_pipeline": e4_multimodal_pipeline,
    "m8b_mp4_frames": m8b_mp4_frames,
    "m9_jpeg_420": m9_jpeg_420,
    "m11_jpeg_progressive": m11_jpeg_progressive,
    "m18_jpeg12_stats": m18_jpeg12_stats,
    "m19_jpeg_arith": m19_jpeg_arith,
    "m20_h264_ipcm": m20_h264_ipcm,
    "m21_h264_intra": m21_h264_intra,
    "m22_pdf_text": m22_pdf_text,
    "m46_pdf_xrefstream": m46_pdf_xrefstream,
    "m23_mulaw_audio": m23_mulaw_audio,
    "m24_jpeg_exif": m24_jpeg_exif,
    "m25_h264_i4x4": m25_h264_i4x4,
    "m26_mp3_meta": m26_mp3_meta,
    "m27_tiff_stats": m27_tiff_stats,
    "m28_flac_audio": m28_flac_audio,
    "m29_gzip_inflate": m29_gzip_inflate,
    "m30_flac_stereo": m30_flac_stereo,
    "m32_flac_surround": m32_flac_surround,
    "m33_h264_cabac": m33_h264_cabac,
    "m34_mp3_samples": m34_mp3_samples,
    "m35_h264_inter": m35_h264_inter,
    "m36_h264_gop": m36_h264_gop,
    "m37_h264_bslice": m37_h264_bslice,
    "m40_h264_mp4": m40_h264_mp4,
    "m41_mp3_intensity": m41_mp3_intensity,
    "m42_h264_deblock": m42_h264_deblock,
    "m43_h264_bdeblock": m43_h264_bdeblock,
    "e15_mp4_shard_pipeline": e15_mp4_shard_pipeline,
    "e16_mp4_ffmpeg_pipeline": e16_mp4_ffmpeg_pipeline,
    "m44_h264_longgop": m44_h264_longgop,
    "m45_h264_bpyramid": m45_h264_bpyramid,
    "m38_jpeg_hierarchical": m38_jpeg_hierarchical,
    "m39_mp3_subband": m39_mp3_subband,
    "e13_video_shard_pipeline": e13_video_shard_pipeline,
    "e14_audio_shard_pipeline": e14_audio_shard_pipeline,
    "m31_lzma_alone": m31_lzma_alone,
}

ORACLE = {
    "m8_mp4_meta": M8_SQL,
    "m16_mjpeg_frames": M16_SQL,
    "m17_gif_frames": M17_SQL,
    "m13_tar_samples": M13_SQL,
    "m14_jsonl_shards": M14_SQL,
    "m15_bmp_stats": M15_SQL,
    "m10_audio_frames": M10_SQL,
    "m12_png_interlaced": M12_SQL,
    "e4_multimodal_pipeline": E4_SQL,
    "m8b_mp4_frames": M8B_SQL,
    "m9_jpeg_420": M9_SQL,
    "m11_jpeg_progressive": M11_SQL,
    "m18_jpeg12_stats": M18_SQL,
    "m19_jpeg_arith": M19_SQL,
    "m20_h264_ipcm": M20_SQL,
    "m21_h264_intra": M21_SQL,
    "m22_pdf_text": M22_SQL,
    "m46_pdf_xrefstream": M46_SQL,
    "m23_mulaw_audio": M23_SQL,
    "m24_jpeg_exif": M24_SQL,
    "m25_h264_i4x4": M25_SQL,
    "m26_mp3_meta": M26_SQL,
    "m27_tiff_stats": M27_SQL,
    "m28_flac_audio": M28_SQL,
    "m29_gzip_inflate": M29_SQL,
    "m30_flac_stereo": M30_SQL,
    "m32_flac_surround": M32_SQL,
    "m33_h264_cabac": M33_SQL,
    "m34_mp3_samples": M34_SQL,
    "m35_h264_inter": M35_SQL,
    "m36_h264_gop": M36_SQL,
    "m37_h264_bslice": M37_SQL,
    "m40_h264_mp4": _m40_sql(),
    "m41_mp3_intensity": M41_SQL,
    "m42_h264_deblock": M42_SQL,
    "m43_h264_bdeblock": M43_SQL,
    "e15_mp4_shard_pipeline": _e15_sql(),
    "e16_mp4_ffmpeg_pipeline": _e16_sql(),
    "m44_h264_longgop": M44_SQL,
    "m45_h264_bpyramid": M45_SQL,
    "m38_jpeg_hierarchical": M38_SQL,
    "m39_mp3_subband": M39_SQL,
    "e13_video_shard_pipeline": E13_SQL,
    "e14_audio_shard_pipeline": E14_SQL,
    "m31_lzma_alone": M31_SQL,
}
