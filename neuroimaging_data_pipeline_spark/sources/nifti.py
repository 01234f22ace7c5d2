"""4-D volume ingest: NIfTI-style dense arrays -> long voxel rows
(SURVEY.md S5/S6, D3).

Reference: ``nib.load(path)`` / ``Brain_Data(img, mask=...)``
(ssm_loop.py:40,60,69) pulls a whole (x,y,z,t) array into RAM and
flattens to (t x voxel). The engine's equivalent is a *source*: a
``binaryFile`` scan of volume files, each decoded inside an
Arrow-batched ``map_batches`` and exploded to long rows
``(path, t, voxel_id, x, y, z, value)`` — from there every downstream
op (mask semi-join, smoothing, mass OLS) is relational.

Scale shape: one file = one input split = one decode task; a 68-subject
cohort is 272 files decoding in parallel, and the explode happens
executor-side (the driver never sees pixel data). Write the result
voxel-bucketed (sources/bucketing.py) once, reuse the clustering in
every per-voxel op.

Decoders:
- ``nifti1``: REAL NIfTI-1 (.nii / .nii.gz), stdlib-only — the
  348-byte header is fixed-offset struct fields and the voxel payload
  is one dtype'd Fortran-order array, so no imaging library is needed
  for the reference's actual on-disk format (``nib.load``,
  ssm_loop.py:40,60). Handles both endiannesses, the common integer /
  float datatype codes, scl_slope/scl_inter rescaling, and gzip
  payloads.
- ``nibabel``: full-featured NIfTI via the nibabel package when it is
  provisioned; absent, falls back to the ``nifti1`` stdlib parser (the
  formats it cannot cover — NIfTI-2, ANALYZE pairs — raise cleanly).
- ``ndpvol``: the engine's deterministic raw format for tests —
  magic b"NDPVOL1\\0", four little-endian int32 dims (x, y, z, t),
  then float64 voxel data in C order.
"""

from __future__ import annotations

import gzip
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from neuroimaging_data_pipeline_spark.functions.rowmap import map_batches, map_rows

_MAGIC = b"NDPVOL1\0"

# NIfTI-1 datatype codes (nifti1.h) -> numpy dtype chars.
_NIFTI_DTYPES: dict[int, str] = {
    2: "u1",     # DT_UINT8
    4: "i2",     # DT_INT16
    8: "i4",     # DT_INT32
    16: "f4",    # DT_FLOAT32
    64: "f8",    # DT_FLOAT64
    256: "i1",   # DT_INT8
    512: "u2",   # DT_UINT16
    768: "u4",   # DT_UINT32
    1024: "i8",  # DT_INT64
    1280: "u8",  # DT_UINT64
}
_NIFTI_CODES = {v: k for k, v in _NIFTI_DTYPES.items()}
_NIFTI_HDR_SIZE = 348

VOLUME_LONG_SCHEMA = (
    "path string, t long, voxel_id long, x int, y int, z int, value double"
)


def encode_ndpvol(arr: np.ndarray) -> bytes:
    """Serialize a 4-D float array (x, y, z, t) to the ndpvol format."""
    if arr.ndim != 4:
        raise ValueError(f"expected 4-D (x,y,z,t), got shape {arr.shape}")
    header = _MAGIC + struct.pack("<4i", *arr.shape)
    return header + np.ascontiguousarray(arr, dtype="<f8").tobytes()


def decode_ndpvol(payload: bytes) -> np.ndarray:
    if payload[:8] != _MAGIC:
        raise ValueError("not an ndpvol payload")
    dims = struct.unpack("<4i", payload[8:24])
    n = dims[0] * dims[1] * dims[2] * dims[3]
    data = np.frombuffer(payload, dtype="<f8", count=n, offset=24)
    return data.reshape(dims)


def encode_nifti1(
    arr: np.ndarray,
    dtype: str = "f4",
    scl_slope: float = 1.0,
    scl_inter: float = 0.0,
    compress: bool = False,
    byteorder: str = "<",
) -> bytes:
    """Serialize an (x, y, z, t) array as a single-file NIfTI-1 .nii
    (or .nii.gz with ``compress``). Stored values are
    ``(arr - scl_inter) / scl_slope`` cast to ``dtype``; a reader that
    honors the header recovers ``stored * scl_slope + scl_inter``
    (lossless for the float dtypes when slope=1, inter=0).

    Emits the reference's actual input format so tests exercise real
    .nii bytes, not only the ndpvol stand-in (ssm_loop.py:40)."""
    if arr.ndim != 4:
        raise ValueError(f"expected 4-D (x,y,z,t), got shape {arr.shape}")
    if dtype not in _NIFTI_CODES:
        raise ValueError(f"unsupported NIfTI dtype {dtype!r}")
    np_dtype = np.dtype(byteorder + dtype)
    stored = (np.asarray(arr, dtype=np.float64) - scl_inter) / scl_slope
    if np_dtype.kind in "iu":
        stored = np.rint(stored)
    stored = stored.astype(np_dtype)

    hdr = bytearray(_NIFTI_HDR_SIZE)
    struct.pack_into(f"{byteorder}i", hdr, 0, _NIFTI_HDR_SIZE)  # sizeof_hdr
    dims = (4, *arr.shape, 1, 1, 1)
    struct.pack_into(f"{byteorder}8h", hdr, 40, *dims)          # dim[8]
    struct.pack_into(
        f"{byteorder}hh", hdr, 70, _NIFTI_CODES[dtype], np_dtype.itemsize * 8
    )                                                           # datatype, bitpix
    # pixdim[0]=qfac, then unit voxel sizes — enough for a data reader
    struct.pack_into(f"{byteorder}8f", hdr, 76, 1, 1, 1, 1, 1, 0, 0, 0)
    struct.pack_into(f"{byteorder}f", hdr, 108, 352.0)          # vox_offset
    struct.pack_into(
        f"{byteorder}ff", hdr, 112, float(scl_slope), float(scl_inter)
    )
    hdr[344:348] = b"n+1\0"                                     # magic
    # Fortran order: x varies fastest on disk (nifti1.h data layout).
    payload = (
        bytes(hdr)
        + b"\0\0\0\0"  # 4-byte pad to vox_offset=352
        + np.asfortranarray(stored).tobytes(order="F")
    )
    return gzip.compress(payload, mtime=0) if compress else payload


def decode_nifti1(payload: bytes) -> np.ndarray:
    """Parse single-file NIfTI-1 bytes to a float64 (x, y, z, t) array.

    Stdlib-only: fixed-offset header fields + one dtype'd buffer.
    Handles gzip payloads (.nii.gz), either endianness (detected from
    sizeof_hdr), the datatype codes in ``_NIFTI_DTYPES``, and
    scl_slope/scl_inter rescaling. Volumes with fewer than 4 dims gain
    trailing singleton axes so downstream always sees (x, y, z, t)."""
    buf = bytes(payload)
    if buf[:2] == b"\x1f\x8b":  # gzip magic — .nii.gz
        buf = gzip.decompress(buf)
    if len(buf) < _NIFTI_HDR_SIZE:
        raise ValueError("truncated NIfTI-1 payload")
    (size_le,) = struct.unpack_from("<i", buf, 0)
    if size_le == _NIFTI_HDR_SIZE:
        bo = "<"
    else:
        (size_be,) = struct.unpack_from(">i", buf, 0)
        if size_be != _NIFTI_HDR_SIZE:
            raise ValueError("not a NIfTI-1 payload (bad sizeof_hdr)")
        bo = ">"
    magic = buf[344:348]
    if magic not in (b"n+1\0", b"ni1\0"):
        raise ValueError(f"not a NIfTI-1 payload (magic {magic!r})")
    if magic == b"ni1\0":
        raise ValueError(
            "two-file NIfTI-1 (.hdr/.img pair) not supported; provide the "
            "single-file .nii form"
        )
    dim = struct.unpack_from(f"{bo}8h", buf, 40)
    ndim = dim[0]
    if not 1 <= ndim <= 7:
        raise ValueError(f"bad NIfTI-1 ndim {ndim}")
    shape = tuple(max(1, d) for d in dim[1 : 1 + ndim])
    (datatype, _bitpix) = struct.unpack_from(f"{bo}hh", buf, 70)
    if datatype not in _NIFTI_DTYPES:
        raise ValueError(f"unsupported NIfTI-1 datatype code {datatype}")
    np_dtype = np.dtype(bo + _NIFTI_DTYPES[datatype])
    (vox_offset,) = struct.unpack_from(f"{bo}f", buf, 108)
    scl_slope, scl_inter = struct.unpack_from(f"{bo}ff", buf, 112)
    n = int(np.prod(shape))
    data = np.frombuffer(
        buf, dtype=np_dtype, count=n, offset=int(vox_offset)
    )
    arr = data.reshape(shape, order="F").astype(np.float64)
    if scl_slope not in (0.0, 1.0) or (scl_slope == 1.0 and scl_inter != 0.0):
        arr = arr * scl_slope + scl_inter
    while arr.ndim < 4:
        arr = arr[..., np.newaxis]
    return arr


def _decode(payload: bytes, decoder: str) -> np.ndarray:
    if decoder == "ndpvol":
        return decode_ndpvol(bytes(payload))
    if decoder == "nifti1":
        return decode_nifti1(bytes(payload))
    if decoder == "nibabel":
        try:
            import nibabel as nib
        except ImportError:  # env without nibabel: stdlib NIfTI-1 parse
            return decode_nifti1(bytes(payload))
        img = nib.Nifti1Image.from_bytes(bytes(payload))  # pragma: no cover
        return np.asarray(img.dataobj, dtype=np.float64)  # pragma: no cover
    raise NotImplementedError(f"unknown volume decoder '{decoder}'")


def load_volume_long(
    spark: SparkSession,
    path_glob: str,
    decoder: str = "ndpvol",
    drop_zeros: bool = True,
) -> DataFrame:
    """Scan volume files and explode to long rows.

    ``drop_zeros`` mirrors the reference's early masking instinct
    (out-of-brain voxels are exactly 0 in masked volumes —
    ssm_loop.py:69): dropping them at the decode boundary cuts the
    long table ~5x before anything shuffles.
    """
    binfiles = spark.read.format("binaryFile").load(path_glob)

    def explode_volumes(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                arr = _decode(row["content"], decoder)
                nx, ny, nz, nt = arr.shape
                # voxel ids in C order over (x, y, z)
                flat = arr.reshape(nx * ny * nz, nt)
                vox = np.arange(nx * ny * nz, dtype=np.int64)
                xs = (vox // (ny * nz)).astype(np.int32)
                ys = ((vox // nz) % ny).astype(np.int32)
                zs = (vox % nz).astype(np.int32)
                for t in range(nt):
                    v = flat[:, t]
                    keep = v != 0.0 if drop_zeros else np.ones_like(v, bool)
                    yield pd.DataFrame(
                        {
                            "path": row["path"],
                            "t": np.int64(t),
                            "voxel_id": vox[keep],
                            "x": xs[keep],
                            "y": ys[keep],
                            "z": zs[keep],
                            "value": v[keep],
                        }
                    )

    return map_batches(
        binfiles, explode_volumes, VOLUME_LONG_SCHEMA, cols=("path", "content")
    )


def synthesize_nifti_volumes(
    docs: DataFrame,
    id_col: str = "doc_id",
    dims: tuple[int, int, int, int] = (4, 3, 2, 2),
) -> DataFrame:
    """Deterministic volume fixture: one REAL single-file .nii per
    document. Voxel (x,y,z,t) of doc d holds
    ``((d*13 + x*7 + y*31 + z*3 + t*17) % 97) * 0.5 + 10.0`` — pure
    integer math an oracle recomputes without any codec — stored as
    int16 with scl_slope=0.5 / scl_inter=10.0, so decoding exercises
    the full header path (dims, datatype, vox_offset, slope/inter)
    losslessly (0.5 and 10.0 are exact in binary). Odd doc_ids are
    gzip-compressed (.nii.gz — the format fMRI data actually ships
    in, ssm_loop.py:40) and even ones raw .nii, so BOTH container
    framings sit under the oracle seal. (media_id, content binary)."""
    nx, ny, nz, nt = dims
    out_schema = "media_id long, content binary"
    xs = np.arange(nx)[:, None, None, None]
    ys = np.arange(ny)[None, :, None, None]
    zs = np.arange(nz)[None, None, :, None]
    ts = np.arange(nt)[None, None, None, :]
    base = xs * 7 + ys * 31 + zs * 3 + ts * 17

    def encode(did):
        arr = ((did * 13 + base) % 97) * 0.5 + 10.0
        yield did, encode_nifti1(
            arr,
            dtype="i2",
            scl_slope=0.5,
            scl_inter=10.0,
            compress=bool(did % 2),
        )

    return map_rows(docs, encode, out_schema, cols=(id_col,))


def nifti_volume_stats(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode NIfTI-1 binary columns with the REAL stdlib codec and
    emit per-volume stats: (media_id, nx, ny, nz, nt, n_vox,
    mean_value, max_value). Narrow Arrow-batched map_rows over the
    scan — nothing shuffles; at 100 TB each file decodes where it
    lands, exactly like wav_features/ppm_features."""
    out_schema = (
        f"{id_col} long, nx int, ny int, nz int, nt int, "
        "n_vox long, mean_value double, max_value double"
    )

    def stats(mid, payload):
        arr = decode_nifti1(payload)
        yield (mid, *arr.shape, arr.size, float(arr.mean()), float(arr.max()))

    return map_rows(media, stats, out_schema, cols=(id_col, content_col))


def n_tr_of(volumes_long: DataFrame) -> int:
    """``img.shape[-1]`` equivalent (ssm_loop.py:40): the time-axis
    length of a loaded volume table."""
    from pyspark.sql import functions as F

    return volumes_long.agg(F.max("t")).first()[0] + 1
