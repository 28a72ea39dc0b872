"""Multimodal column conventions (SURVEY.md §2 B32).

Images/audio/video ride as opaque ``binary`` columns next to typed
metadata structs; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` over those bytes.  The decode itself is STUBBED here
(no imaging libs in this container — a deterministic fake stands in,
clearly marked), but everything Spark-side is real: schemas, batch
iteration, partition sizing, column pruning.

100 TB notes: binary payloads dominate row size, so (a) keep them in
their own column so Parquet column pruning skips them unless touched,
(b) size ``spark.sql.files.maxPartitionBytes`` so a batch of blobs
fits executor memory, (c) never collect blobs to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..registry import query


def with_blob_columns(docs: DataFrame) -> DataFrame:
    """documents → multimodal-shaped: an opaque binary payload (the
    utf-8 text bytes standing in for image bytes) + a typed metadata
    struct, the convention every decode/extract operator consumes."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("blob"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.col("n_chars").cast("int").alias("byte_length"),
            F.col("source").alias("origin"),
        ).alias("media_meta"),
    )


@query(
    "b32_multimodal_plumbing",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS blob_len,
           'image/fake' AS mime
    FROM documents
    """,
)
def b32_multimodal_plumbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32: binary column round-trip — blob length computed from the
    binary column itself (hash-checked vs the text byte length)."""
    d = with_blob_columns(table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.octet_length("blob").cast("bigint").alias("blob_len"),
        F.col("media_meta.mime").alias("mime"),
    )


#: Output schema of the fake decoder — what a real image decode would
#: produce (dimensions + a small feature vector).  The feature is emitted
#: as scalar columns (not array<double>) so downstream tabular tooling —
#: including the driver's pandas canonicalizer — can sort/hash rows.
DECODE_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, "
    "feat_len double, feat_first double, feat_last double, feat_sum8 double"
)


def fake_decode_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """STUB decode (deterministic fake): a real implementation would call
    PIL/ffmpeg here on each blob.  The fake derives stable pseudo-
    dimensions and a 4-dim feature from the bytes so tests can assert
    exact values.  Raises NotImplementedError if asked for real decode.
    """
    for pdf in batches:
        blobs = pdf["blob"]
        n = blobs.str.len()
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": (n % 640).astype("int32"),
                "height": (n % 480).astype("int32"),
                "n_frames": (1 + n % 4).astype("int32"),
                "feat_len": [float(len(b)) for b in blobs],
                "feat_first": [float(b[0]) for b in blobs],
                "feat_last": [float(b[-1]) for b in blobs],
                "feat_sum8": [float(sum(b[:8])) for b in blobs],
            }
        )


# ------------------------------------------------- real PPM (P6) decode
#
# The one image format that needs no codec library: PPM P6 is an ASCII
# header (magic, width, height, maxval, with comment support) followed
# by a raw RGB raster — parseable with pure Python + numpy, so the
# decode below is REAL pixel math, not a stub.  The encoder fixture
# builds genuine P6 byte streams from document content (deterministic,
# so tests replay it byte-exactly), standing in for the crawl's image
# payload; swap `make_ppm_batches` for the real ingest and everything
# downstream is unchanged.

PPM_SCHEMA = "doc_id bigint, ppm binary"

PPM_DECODE_SCHEMA = (
    "doc_id bigint, width int, height int, n_px bigint, "
    "sum_r bigint, sum_g bigint, sum_b bigint"
)


def make_ppm_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic P6 fixture for one document: dimensions derived
    from (doc_id, byte length), raster = the utf-8 text bytes tiled
    across w*h RGB pixels.  Includes a header comment line so the
    decoder's comment handling is exercised on every row."""
    data = text.encode("utf-8") or b"\x00"
    w = 4 + int(doc_id) % 13
    h = 3 + len(data) % 11
    need = w * h * 3
    reps = -(-need // len(data))
    px = (data * reps)[:need]
    header = f"P6\n# doc {doc_id}\n{w} {h}\n255\n".encode()
    return header + px


def make_ppm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "ppm": [
                    make_ppm_bytes(d, t)
                    for d, t in zip(pdf["doc_id"], pdf["text"])
                ],
            }
        )


def parse_ppm(buf: bytes) -> tuple[int, int, "np.ndarray"]:
    """Parse a P6 PPM byte stream → (width, height, h×w×3 uint8 raster).
    Implements the actual format: magic 'P6', then width/height/maxval
    as ASCII ints separated by whitespace, '#' comments running to
    end-of-line anywhere in the header, and exactly ONE whitespace byte
    between maxval and the binary raster."""
    import numpy as np

    if buf[:2] != b"P6":
        raise ValueError(f"not a P6 PPM (magic {buf[:2]!r})")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(buf):
            c = buf[pos : pos + 1]
            if c in (b" ", b"\t", b"\r", b"\n"):
                pos += 1
            elif c == b"#":
                while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                    pos += 1
            else:
                break
        start = pos
        while pos < len(buf) and buf[pos : pos + 1] not in (
            b" ",
            b"\t",
            b"\r",
            b"\n",
        ):
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        vals.append(int(buf[start:pos]))
    pos += 1  # the single whitespace byte that terminates the header
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported (maxval {maxval})")
    raster = np.frombuffer(buf, dtype=np.uint8, offset=pos, count=w * h * 3)
    if raster.size != w * h * 3:
        raise ValueError("truncated PPM raster")
    return w, h, raster.reshape(h, w, 3)


def ppm_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL decode: P6 header parse + per-channel int64 pixel sums via
    numpy — the actual pixel math a feature extractor starts from."""
    import numpy as np

    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "width", "height", "n_px", "sum_r", "sum_g", "sum_b"
        )}
        for doc_id, buf in zip(pdf["doc_id"], pdf["ppm"]):
            w, h, raster = parse_ppm(bytes(buf))
            sums = raster.reshape(-1, 3).sum(axis=0, dtype=np.int64)
            rows["doc_id"].append(doc_id)
            rows["width"].append(w)
            rows["height"].append(h)
            rows["n_px"].append(w * h)
            rows["sum_r"].append(int(sums[0]))
            rows["sum_g"].append(int(sums[1]))
            rows["sum_b"].append(int(sums[2]))
        yield pd.DataFrame(
            {
                "doc_id": rows["doc_id"],
                "width": pd.array(rows["width"], dtype="int32"),
                "height": pd.array(rows["height"], dtype="int32"),
                "n_px": pd.array(rows["n_px"], dtype="int64"),
                "sum_r": pd.array(rows["sum_r"], dtype="int64"),
                "sum_g": pd.array(rows["sum_g"], dtype="int64"),
                "sum_b": pd.array(rows["sum_b"], dtype="int64"),
            }
        )


@query("b32_ppm_decode")  # real pixel decode; fixture bytes → rows-only
def b32_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32 for real: encode each document as a genuine P6 PPM byte
    stream (mapInPandas fixture ingest), then DECODE it — header parse
    with comment handling + numpy per-channel pixel sums — in a second
    mapInPandas stage.  Byte-exact vs a pure-Python replay in
    tests/test_llmops.py.  The two-stage shape (opaque binary column →
    typed features) is exactly the production crawl pipeline; only the
    encoder fixture is synthetic, and it emits spec-conformant bytes a
    real PPM reader accepts."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    blobs = d.mapInPandas(make_ppm_batches, schema=PPM_SCHEMA)
    return blobs.mapInPandas(ppm_decode_batches, schema=PPM_DECODE_SCHEMA)


def b32_fake_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEST FIXTURE (retired from the registry — superseded by
    b32_ppm_decode's real pixel decode): the
    decode/feature-extract operator shape — mapInPandas over
    (doc_id, blob) with Arrow batching.  Blob column pruned at the scan
    when untouched; only this operator pays for the bytes."""
    d = with_blob_columns(table(spark, sf_dir, "documents"))
    return d.select("doc_id", "blob").mapInPandas(
        fake_decode_batches, schema=DECODE_SCHEMA
    )


#: Resize target: the fake keeps ≤64 evenly-strided bytes per blob —
#: the byte-subsampling analog of a thumbnail.
RESIZE_TARGET = 64

RESIZE_SCHEMA = (
    "doc_id bigint, out_len int, out_sum bigint, out_first int, out_last int"
)


def fake_resize_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """STUB resize (deterministic fake): a real implementation would
    decode + rescale pixels here; the fake subsamples every k-th byte
    (k = ⌈len/target⌉) — same contract as a thumbnail: bounded output
    size, content-dependent values, order-preserving.  Emits integer
    summaries of the 'resized' bytes so tests assert exact values."""
    for pdf in batches:
        out_len, out_sum, out_first, out_last = [], [], [], []
        for b in pdf["blob"]:
            step = max(1, len(b) // RESIZE_TARGET)
            r = b[::step][:RESIZE_TARGET] if len(b) else b"\x00"
            out_len.append(len(r))
            out_sum.append(sum(r))
            out_first.append(r[0])
            out_last.append(r[-1])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "out_len": pd.array(out_len, dtype="int32"),
                "out_sum": pd.array(out_sum, dtype="int64"),
                "out_first": pd.array(out_first, dtype="int32"),
                "out_last": pd.array(out_last, dtype="int32"),
            }
        )


def b32_fake_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEST FIXTURE (retired from the registry — superseded by
    b32_ppm_resize's real pixel resize): the
    resize/thumbnail operator shape — mapInPandas over the
    blob column with a bounded-size output contract (every input maps
    to ≤ RESIZE_TARGET bytes).  Same pruning/batching story as decode;
    at 100 TB this is the step that shrinks a crawl's media payload
    before feature extraction, so output size bounds matter more than
    fidelity."""
    d = with_blob_columns(table(spark, sf_dir, "documents"))
    return d.select("doc_id", "blob").mapInPandas(
        fake_resize_batches, schema=RESIZE_SCHEMA
    )


@query(
    "b32_frame_sample",
    oracle="""
    SELECT doc_id, CAST(frame_no AS INTEGER) AS frame_no
    FROM (SELECT doc_id, unnest(range(0, 1 + strlen(text) % 4)) AS frame_no
          FROM documents)
    """,
)
def b32_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32: frame sampling as an explode over per-row frame counts —
    the row-multiplying half of video processing, kept declarative so
    Catalyst sees cardinality.  Frame count mirrors the fake decoder."""
    d = with_blob_columns(table(spark, sf_dir, "documents"))
    n_frames = (F.octet_length("blob") % 4 + 1).cast("int")
    return d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_no"),
    )


PPM_RESIZE_SCHEMA = (
    "doc_id bigint, src_w int, src_h int, dst_w int, dst_h int, "
    "out_ppm binary, sum_r bigint, sum_g bigint, sum_b bigint"
)


def ppm_resize_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """REAL resize: parse the P6 raster, nearest-neighbor downsample to
    half resolution (floor-index map, the textbook NN kernel), and
    re-encode a spec-conformant P6 stream — genuine pixel math with no
    codec library, deterministically replayable byte-for-byte."""
    import numpy as np

    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "src_w", "src_h", "dst_w", "dst_h",
            "out_ppm", "sum_r", "sum_g", "sum_b",
        )}
        for doc_id, buf in zip(pdf["doc_id"], pdf["ppm"]):
            w, h, raster = parse_ppm(bytes(buf))
            dw, dh = max(1, w // 2), max(1, h // 2)
            ys = (np.arange(dh) * h) // dh
            xs = (np.arange(dw) * w) // dw
            out = raster[ys][:, xs]
            sums = out.reshape(-1, 3).sum(axis=0, dtype=np.int64)
            rows["doc_id"].append(doc_id)
            rows["src_w"].append(w)
            rows["src_h"].append(h)
            rows["dst_w"].append(dw)
            rows["dst_h"].append(dh)
            rows["out_ppm"].append(
                f"P6\n{dw} {dh}\n255\n".encode() + out.tobytes()
            )
            rows["sum_r"].append(int(sums[0]))
            rows["sum_g"].append(int(sums[1]))
            rows["sum_b"].append(int(sums[2]))
        yield pd.DataFrame(
            {
                "doc_id": rows["doc_id"],
                "src_w": pd.array(rows["src_w"], dtype="int32"),
                "src_h": pd.array(rows["src_h"], dtype="int32"),
                "dst_w": pd.array(rows["dst_w"], dtype="int32"),
                "dst_h": pd.array(rows["dst_h"], dtype="int32"),
                "out_ppm": rows["out_ppm"],
                "sum_r": pd.array(rows["sum_r"], dtype="int64"),
                "sum_g": pd.array(rows["sum_g"], dtype="int64"),
                "sum_b": pd.array(rows["sum_b"], dtype="int64"),
            }
        )


@query("b32_ppm_resize")  # real pixel resize; fixture bytes → rows-only
def b32_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32 resize for REAL (upgrading b32_fake_resize's declared stub):
    P6 parse → nearest-neighbor half-resolution downsample → P6
    re-encode, all pure numpy inside mapInPandas.  Emits the resized
    bytes (bounded at ~1/4 the input raster by construction) plus the
    output-channel sums; tests/test_llmops.py replays the kernel in
    pure Python and asserts the emitted bytes match EXACTLY.

    Scale: same narrow binary-column pipeline as b32_ppm_decode — no
    shuffle, Arrow-batched, per-row cost proportional to pixel count;
    the only change production needs is swapping the fixture encoder
    for the crawl's image bytes."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    blobs = d.mapInPandas(make_ppm_batches, schema=PPM_SCHEMA)
    return blobs.mapInPandas(ppm_resize_batches, schema=PPM_RESIZE_SCHEMA)


# ------------------------------------- binaryFile ingest (real files)

#: Docs materialized as .ppm files per b146 invocation (bounded
#: fixture; the operator under test is the source, not the encoder).
_BINFILE_N = 200

#: Process-lifetime fixture dir (created lazily, removed at exit).
_BINFILE_DIR: list[str] = []


def _binfile_fixture_dir() -> str:
    if not _BINFILE_DIR:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="b146_ppm_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _BINFILE_DIR.append(d)
    return _BINFILE_DIR[0]


def write_ppm_files(d: DataFrame, out_dir: str) -> None:
    """Materialize (doc_id, text) rows as ``<doc_id>.ppm`` FILES —
    distributed: each task writes its partition's files directly
    (local-FS semantics in local mode; at cluster scale out_dir is a
    shared object store and this is exactly how image shards land).
    No driver-side loop, no collect."""

    def write_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import os

        os.makedirs(out_dir, exist_ok=True)
        n = 0
        for pdf in batches:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                tmp = os.path.join(out_dir, f".{doc_id}.ppm.tmp")
                with open(tmp, "wb") as f:
                    f.write(make_ppm_bytes(doc_id, text))
                os.replace(tmp, os.path.join(out_dir, f"{doc_id}.ppm"))
                n += 1
        yield pd.DataFrame({"n": [n]})

    d.mapInPandas(write_batches, schema="n int").write.format(
        "noop"
    ).mode("overwrite").save()


@query("b146_binaryfile_ingest")  # filesystem fixture round-trip → rows-only
def b146_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32/A3 through Spark's REAL ``binaryFile`` source — the ingest
    path an image/audio crawl actually uses: opaque media FILES on
    (shared) storage → one row per file with (path, length, content),
    ``pathGlobFilter`` narrowing the listing to the target format,
    doc ids recovered from filenames, bytes decoded by the same
    Arrow-batched P6 parser as the in-memory path.  The fixture
    materializes 200 real .ppm files (distributed writer, no
    driver loop) and reads them back; tests/test_llmops.py pins the
    decoded features byte-equal to b32_ppm_decode's in-memory results
    for the same docs.

    Scale: binaryFile is a standard FileFormat — listing parallelizes,
    files split across tasks (one row each, content never pre-read on
    the driver), and the decode stays the same narrow mapInPandas; the
    per-file row carries length/modificationTime so size-gating
    (spark.sql.sources.binaryFile.maxLength) happens before any byte
    moves.  Rows-only: file paths/mtimes are environment facts.

    The fixture dir is created ONCE per process and rewritten
    idempotently (os.replace per file) on each invocation, with an
    atexit rmtree — the returned frame reads the directory lazily, so
    an eager per-invocation rmtree is impossible, and an mkdtemp per
    call would otherwise accumulate 200 files per run."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < _BINFILE_N)
    )
    out_dir = _binfile_fixture_dir()
    write_ppm_files(d, out_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.ppm")
        .load(out_dir)
    )
    blobs = files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.ppm$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("content").alias("ppm"),
    )
    return blobs.mapInPandas(ppm_decode_batches, schema=PPM_DECODE_SCHEMA)
