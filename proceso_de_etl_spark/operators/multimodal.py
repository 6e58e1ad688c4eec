"""Multimodal column plumbing (SURVEY.md §2.3 T12).

Images/audio/video are opaque ``binary`` columns plus a typed
metadata struct; per-batch feature extraction runs through
``mapInPandas`` (Arrow batches — the shape real multimodal decode
takes on Spark). The container has no image/audio libs, so the
decode step is STUBBED: a deterministic byte-level featureizer
stands in, and the real-codec branch raises NotImplementedError
loudly rather than faking support.

Scale: mapInPandas streams Arrow batches — constant memory per task
regardless of corpus size; binary payloads never pass through a
Python row object. Partitioning stays whatever the scan produced
(no shuffle is introduced).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from proceso_de_etl_spark import cachereg
from proceso_de_etl_spark.sources.catalog import load_table

ORACLES: dict[str, str] = {}

_FORMATS = ("png", "wav", "mp4")
_STUB_FORMATS = set(_FORMATS)  # formats the deterministic stub accepts

# The operator's natural schema: hist is a typed array<double>
# (mapInPandas ships it through Arrow natively; numeric consumers
# read it directly). Stringification for comparators that cannot
# hash list cells (the driver's gate canonicalizer — the landmine
# array_function_matrix hit in relational.py) happens ONLY in the
# registered contract query, at the boundary, not here.
FEATURE_SCHEMA = (
    "doc_id bigint, fmt string, n_bytes bigint, byte_mean double, hist array<double>"
)


def make_feature_extractor(stub_formats: frozenset[str]):
    """Build the per-Arrow-batch feature extractor as a CLOSURE so
    cloudpickle ships it by value — a module-level function would be
    pickled by reference and fail to import on workers whose
    PYTHONPATH the host session didn't set (e.g. an external driver
    process). Deterministic stand-in for decode: byte length, mean
    byte value, 8-bin byte histogram (normalized). A real deployment
    swaps the body per format (PIL/librosa/pyav) — the Spark-side
    contract stays identical."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # worker-side imports, self-contained
        import pandas as pd

        for pdf in batches:
            bad = set(pdf["fmt"]) - stub_formats
            if bad:
                raise NotImplementedError(
                    f"decode for formats {sorted(bad)!r} requires codec libs not in this image"
                )
            # vectorized per payload: the per-byte work runs in numpy C
            # loops (frombuffer is zero-copy; bincount is one pass), not
            # Python bytecode — ~100x over a per-byte Python loop, which
            # is the difference between plumbing and bottleneck at 100 TB
            # of media. Row iteration remains (payloads are ragged), but
            # per-row cost is O(1) Python + O(n_bytes) C.
            out = []
            for doc_id, fmt, payload in zip(pdf["doc_id"], pdf["fmt"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = arr.size
                total = float(n) if n else 1.0
                hist = np.bincount(arr >> 5, minlength=8).astype(np.float64) / total
                out.append(
                    {
                        "doc_id": doc_id,
                        "fmt": fmt,
                        "n_bytes": int(n),
                        # exact: integer byte sum, one float division
                        "byte_mean": (int(arr.sum(dtype=np.int64)) / total) if n else 0.0,
                        "hist": hist.tolist(),
                    }
                )
            yield pd.DataFrame(out, columns=["doc_id", "fmt", "n_bytes", "byte_mean", "hist"])

    return extract


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Model a multimodal table: binary payload (here: utf-8 text
    bytes standing in for media bytes) + typed metadata struct."""
    fmt = F.element_at(F.array(*[F.lit(f) for f in _FORMATS]), (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        fmt.alias("fmt"),
        F.struct(
            F.length("text").cast("bigint").alias("n_chars"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def extract_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 — binary column → Arrow-batched feature extraction, typed
    result (``hist`` is array<double>). This is the operator a
    downstream numeric consumer calls."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs)
    return media.select("doc_id", "fmt", "payload").mapInPandas(
        make_feature_extractor(frozenset(_STUB_FORMATS)), schema=FEATURE_SCHEMA
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 contract query — the typed operator with ``hist``
    stringified AT THE GATE BOUNDARY only (the driver's pandas
    canonicalizer cannot hash list cells). Elements round to the
    repo-standard 6dp via the portable half-up floor formula, then
    format as %.6f (Spark's format_string pins Locale.US) — NOT
    shortest-round-trip casts (Java and DuckDB shortest-repr
    conventions differ) and NOT high-precision %f (Java pads its
    canonical digits with zeros instead of printing the exact
    expansion, measured). A 6dp-rounded double sits ~1e-17 from its
    decimal target vs 5e-7 from the nearest formatting boundary, so
    both engines print the identical string. That makes the whole
    feature row value-oracled: byte_mean and the histogram are exact
    integer ratios DuckDB recomputes from hex byte values."""
    return extract_media_features(spark, sf_dir).withColumn(
        "hist",
        F.array_join(
            F.transform(
                "hist",
                lambda v: F.format_string(
                    "%.6f", F.floor(v * 1000000 + F.lit(0.5)) / 1000000
                ),
            ),
            ",",
        ),
    )


ORACLES["multimodal_features"] = """
WITH media AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS len
  FROM documents
),
bytes AS (
  SELECT doc_id, CAST(concat('0x', substr(hx, 2 * t.p - 1, 2)) AS BIGINT) AS val
  FROM media, unnest(generate_series(1, len)) AS t(p)
),
sums AS (SELECT doc_id, COUNT(*) AS n, SUM(val) AS s FROM bytes GROUP BY doc_id),
cnts AS (SELECT doc_id, val // 32 AS bin, COUNT(*) AS c FROM bytes GROUP BY 1, 2),
grid AS (
  SELECT m.doc_id, b.b AS bin, COALESCE(c.c, 0) AS c,
         COALESCE(s.n, 0) AS n
  FROM media m
  CROSS JOIN range(8) b(b)
  LEFT JOIN cnts c ON c.doc_id = m.doc_id AND c.bin = b.b
  LEFT JOIN sums s ON s.doc_id = m.doc_id
),
hists AS (
  SELECT doc_id,
         string_agg(printf('%.6f',
                    FLOOR((CAST(c AS DOUBLE) / CASE WHEN n > 0 THEN n ELSE 1 END)
                          * 1000000 + 0.5) / 1000000), ',' ORDER BY bin) AS hist
  FROM grid GROUP BY doc_id
)
SELECT m.doc_id,
       ['png', 'wav', 'mp4'][CAST(m.doc_id % 3 AS INT) + 1] AS fmt,
       CAST(m.len AS BIGINT) AS n_bytes,
       CAST(COALESCE(s.s, 0) AS DOUBLE)
         / (CASE WHEN m.len > 0 THEN m.len ELSE 1 END) AS byte_mean,
       h.hist
FROM media m
LEFT JOIN sums s ON s.doc_id = m.doc_id
JOIN hists h ON h.doc_id = m.doc_id
"""


FRAME_BYTES = 256  # stub "frame" size
FRAME_STRIDE = 4  # keep every 4th frame

FRAME_SCHEMA = (
    "doc_id bigint, frame_idx bigint, n_frames bigint, frame_bytes bigint, frame_md5 string"
)


def make_frame_sampler(frame_bytes: int, stride: int):
    """Per-Arrow-batch frame sampler (closure, shipped by value).
    Stands in for video/audio frame extraction: the payload is cut
    into fixed-size 'frames' and every ``stride``-th frame is kept —
    the 1-row-in, N-rows-out shape real frame sampling has. A real
    deployment swaps the slicer for pyav/ffmpeg frame decode; the
    Spark contract (mapInPandas, output cardinality > input, frame
    index + digest per row) is identical."""

    def sample(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n_frames = (len(data) + frame_bytes - 1) // frame_bytes
                for idx in range(0, n_frames, stride):
                    frame = data[idx * frame_bytes : (idx + 1) * frame_bytes]
                    out.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": idx,
                            "n_frames": n_frames,
                            "frame_bytes": len(frame),
                            "frame_md5": hashlib.md5(frame).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "n_frames", "frame_bytes", "frame_md5"]
            )

    return sample


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12b — frame sampling plumbing: binary payload → every 4th
    256-byte 'frame' with a content digest. Exercises the expanding
    (1 → N rows) mapInPandas shape that real video frame extraction
    uses; partitioning stays whatever the scan produced. Value-
    oracled: the testdata corpus is pure ASCII (pinned by a unit
    test AND an error() guard inside the oracle), so byte slices ==
    char slices and DuckDB's md5(substr(text, ...)) replays every
    frame digest exactly."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs)
    return media.select("doc_id", "payload").mapInPandas(
        make_frame_sampler(FRAME_BYTES, FRAME_STRIDE), schema=FRAME_SCHEMA
    )


# byte-semantics caveat: md5/substr operate on VARCHAR here, which is
# only equal to byte-level framing because the corpus is ASCII — the
# error() branch makes a future non-ASCII testdata fail LOUDLY as an
# oracle error instead of silently hash-mismatching.
ORACLES["multimodal_frame_sample"] = f"""
WITH media AS (
  SELECT doc_id,
         CASE WHEN octet_length(encode(text)) <> length(text)
              THEN error('frame-sample oracle requires ASCII payloads')
              ELSE text END AS payload,
         octet_length(encode(text)) AS len
  FROM documents
),
frames AS (
  SELECT doc_id, t.i AS frame_idx,
         CAST((len + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS BIGINT) AS n_frames,
         substr(payload, CAST(t.i * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES}) AS fr
  FROM media,
       unnest(generate_series(0, (len + {FRAME_BYTES - 1}) // {FRAME_BYTES} - 1,
                              {FRAME_STRIDE})) AS t(i)
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, n_frames,
       CAST(length(fr) AS BIGINT) AS frame_bytes, md5(fr) AS frame_md5
FROM frames
"""


AUDIO_WIN = 1024  # samples per RMS window


def make_audio_featurizer(win: int):
    """Per-Arrow-batch audio featurizer (closure, shipped by value):
    payload bytes reinterpreted as 16-bit little-endian PCM (the
    codec-free stand-in for a real decode), then the classic
    windowed DSP features — per-window RMS energy, global peak
    amplitude, zero-crossing ratio — all numpy-vectorized (reshape +
    one reduction per feature; no Python per-sample loop). A real
    deployment swaps the frombuffer for librosa/soundfile decode;
    the Spark contract (mapInPandas batch shape, per-doc summary
    row) is identical."""

    def feats(batches):
        import math

        import numpy as np
        import pandas as pd

        # half-up 6dp rounding via the explicit floor formula: Python's
        # round() is banker's while SQL ROUND is half-away — PCM-derived
        # ratios DO land on exact 6dp midpoints (k/2^a denominators), so
        # the oracle mirrors this exact float expression instead
        def r6(v: float) -> float:
            return math.floor(v * 1000000 + 0.5) / 1000000

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n = len(data) // 2
                x = np.frombuffer(data[: n * 2], dtype="<i2").astype(np.float64) / 32768.0
                nwin = x.size // win
                rms = (
                    np.sqrt((x[: nwin * win].reshape(nwin, win) ** 2).mean(axis=1))
                    if nwin
                    else np.zeros(0)
                )
                zc = (
                    int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])))
                    if x.size > 1
                    else 0
                )
                out.append(
                    {
                        "doc_id": doc_id,
                        "n_samples": int(x.size),
                        "n_windows": int(nwin),
                        "mean_rms": r6(float(rms.mean())) if nwin else 0.0,
                        "peak": r6(float(np.abs(x).max())) if x.size else 0.0,
                        "zcr": r6(zc / max(x.size - 1, 1)),
                    }
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_samples", "n_windows", "mean_rms", "peak", "zcr"]
            )

    return feats


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T33 — audio feature extraction plumbing: binary payload →
    int16-PCM reinterpret → windowed RMS / peak / zero-crossing
    ratio per document. The per-doc summary shape an audio-quality
    gate (silence or clipping filters) consumes. Value-oracled in
    the regime the gate data exercises: peak and zcr are exact
    integer-derived ratios DuckDB replays from hex byte pairs, and
    every gate document is shorter than one RMS window (error()
    guard pins that), so mean_rms is exactly 0.0 on both sides;
    the windowed-DSP branch itself is golden-pinned on literal PCM
    by the unit test."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs)
    return media.select("doc_id", "payload").mapInPandas(
        make_audio_featurizer(AUDIO_WIN),
        schema="doc_id bigint, n_samples bigint, n_windows bigint,"
        " mean_rms double, peak double, zcr double",
    )


# int16 LE sample s = byte[2s] + 256*byte[2s+1], two's-complement;
# signbit(i/32768.0) == (i < 0) (numpy signbit(0.0) is False, matching
# i=0 in the non-negative branch). The windowed-RMS regime would need
# a float mean over windows whose summation order differs between
# numpy and SQL — excluded by the error() guard, which turns a future
# bigger-document corpus into a loud oracle error, never a mismatch.
ORACLES["multimodal_audio_energy"] = f"""
WITH media AS (
  SELECT doc_id,
         CASE WHEN octet_length(encode(text)) >= {2 * AUDIO_WIN}
              THEN error('audio oracle covers only the sub-window regime')
              ELSE hex(encode(text)) END AS hx,
         octet_length(encode(text)) AS len
  FROM documents
),
samples AS (
  SELECT doc_id, t.s AS idx,
         CAST(concat('0x', substr(hx, 4 * t.s + 3, 2)) AS BIGINT) * 256
       + CAST(concat('0x', substr(hx, 4 * t.s + 1, 2)) AS BIGINT) AS u
  FROM media, unnest(generate_series(0, len // 2 - 1)) AS t(s)
),
signed AS (
  SELECT doc_id, idx, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS i
  FROM samples
),
crossed AS (
  SELECT doc_id, i,
         CASE WHEN LAG(i) OVER (PARTITION BY doc_id ORDER BY idx) IS NULL THEN 0
              WHEN (i < 0) <> (LAG(i) OVER (PARTITION BY doc_id ORDER BY idx) < 0) THEN 1
              ELSE 0 END AS zc
  FROM signed
),
agg AS (
  SELECT doc_id, COUNT(*) AS n, MAX(ABS(i)) AS maxabs, SUM(zc) AS zc
  FROM crossed GROUP BY doc_id
)
SELECT m.doc_id,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_samples,
       CAST(COALESCE(a.n, 0) // {AUDIO_WIN} AS BIGINT) AS n_windows,
       0.0 AS mean_rms,
       COALESCE(FLOOR((CAST(a.maxabs AS DOUBLE) / 32768.0) * 1000000 + 0.5) / 1000000, 0.0) AS peak,
       COALESCE(FLOOR((CAST(a.zc AS DOUBLE) / GREATEST(a.n - 1, 1)) * 1000000 + 0.5) / 1000000, 0.0) AS zcr
FROM media m LEFT JOIN agg a ON a.doc_id = m.doc_id
"""


IMG_W = 64  # stub image width (bytes per row)


def make_image_resizer(width: int):
    """Per-Arrow-batch 2× image downsampler (closure, shipped by
    value): payload bytes as a width×H uint8 grid (codec-free decode
    stand-in), 2×2 mean-pool via one reshape — the vectorized resize
    every vision-data pipeline runs before feature extraction. Emits
    dims + content digest so tests pin the exact output without
    shipping pixels around."""

    def resize(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                h = len(data) // width
                img = np.frombuffer(data[: h * width], dtype=np.uint8).reshape(h, width)
                oh, ow = h // 2, width // 2
                # 2x2 mean pool, floor back to uint8 — one reshape + one mean
                small = (
                    img[: oh * 2, : ow * 2]
                    .reshape(oh, 2, ow, 2)
                    .mean(axis=(1, 3))
                    .astype(np.uint8)
                    if oh and ow
                    else np.zeros((0, 0), dtype=np.uint8)
                )
                out.append(
                    {
                        "doc_id": doc_id,
                        "in_w": int(width),
                        "in_h": int(h),
                        "out_w": int(ow if oh else 0),
                        "out_h": int(oh),
                        "out_md5": hashlib.md5(small.tobytes()).hexdigest(),
                    }
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "in_w", "in_h", "out_w", "out_h", "out_md5"]
            )

    return resize


def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T34 — image resize plumbing: binary payload as a 64-wide uint8
    grid, 2×2 mean-pooled (numpy reshape, no Python pixel loop),
    output dims + digest. Value-oracled: the float mean + uint8
    truncation is exactly (sum of 4 bytes) // 4 (power-of-two
    division is exact in float64), pooled values of ASCII input stay
    < 128, so DuckDB rebuilds the pooled byte string with
    chr()/string_agg and replays the digest; an error() guard makes
    a non-ASCII corpus fail loudly."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs)
    return media.select("doc_id", "payload").mapInPandas(
        make_image_resizer(IMG_W),
        schema="doc_id bigint, in_w bigint, in_h bigint, out_w bigint,"
        " out_h bigint, out_md5 string",
    )


def _image_resize_oracle_sql() -> str:
    w = IMG_W
    ow = w // 2
    # byte (i,j) of the h x 64 grid = ascii char at position i*64+j+1;
    # pooled cell (pi,pj) = floor(mean of the 2x2 block) = block_sum // 4
    b = [
        f"ascii(substr(payload, (2 * (t.c // {ow}) + {di}) * {w} + 2 * (t.c % {ow}) + {dj} + 1, 1))"
        for di in (0, 1)
        for dj in (0, 1)
    ]
    cell_sum = " + ".join(b)
    return f"""
WITH media AS (
  SELECT doc_id,
         CASE WHEN octet_length(encode(text)) <> length(text)
              THEN error('image-resize oracle requires ASCII payloads')
              ELSE text END AS payload,
         (octet_length(encode(text)) // {w}) AS h
  FROM documents
),
cells AS (
  SELECT doc_id, t.c // {ow} AS pi, t.c % {ow} AS pj,
         ({cell_sum}) // 4 AS pv
  FROM media, unnest(generate_series(0, (h // 2) * {ow} - 1)) AS t(c)
),
digests AS (
  SELECT doc_id, md5(COALESCE(string_agg(chr(CAST(pv AS INT)), '' ORDER BY pi, pj), '')) AS out_md5
  FROM cells GROUP BY doc_id
)
SELECT m.doc_id, CAST({w} AS BIGINT) AS in_w, CAST(m.h AS BIGINT) AS in_h,
       CAST(CASE WHEN m.h // 2 > 0 THEN {ow} ELSE 0 END AS BIGINT) AS out_w,
       CAST(m.h // 2 AS BIGINT) AS out_h,
       COALESCE(d.out_md5, md5('')) AS out_md5
FROM media m LEFT JOIN digests d ON d.doc_id = m.doc_id
"""


ORACLES["multimodal_image_resize"] = _image_resize_oracle_sql()


BLOB_N_FILES = 30
BLOB_N_UNIQUE = 10


def multimodal_blob_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T56 — content-addressed binary-blob dedup: the storage-side
    twin of T1 for raw media — a media drop with duplicated files
    (30 staged files carrying only 10 distinct contents, the shape a
    crawler produces when mirrors re-serve the same asset) is read
    via the ``binaryFile`` source and deduplicated by content digest
    computed SCAN-SIDE on the binary column (md5 over ``content``,
    no Python row objects). Report: files seen, unique blobs, bytes
    ingested vs bytes retained (the dedup savings a blob store
    realizes), and the deterministic keeper (lexicographic min path
    id) per decile of the digest space is summarized by the digest
    count itself. At 100 TB the digest groupBy is the only shuffle
    and its width is the digest, not the blob — content never moves
    twice. Oracle recomputes digests/sizes from the documents table
    with the same staging rule (file i carries doc i % 10's text)."""
    import os

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BLOB_N_UNIQUE)
        .select("doc_id", "text")
        .collect()
    }
    stage = cachereg.scratch_dir("blob_dedup_")
    for i in range(BLOB_N_FILES):
        with open(os.path.join(stage, f"{i:08d}.bin"), "wb") as f:
            f.write(docs[i % BLOB_N_UNIQUE].encode("utf-8"))
    files = spark.read.format("binaryFile").load(stage)
    per_blob = (
        files.select(
            F.md5("content").alias("digest"),
            F.col("length").cast("bigint").alias("n_bytes"),
        )
        .groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min("n_bytes").alias("blob_bytes"))
    )
    return per_blob.agg(
        F.sum("n_copies").cast("bigint").alias("n_files"),
        F.count("*").alias("n_unique_blobs"),
        F.sum(F.col("n_copies") * F.col("blob_bytes")).cast("bigint").alias("bytes_ingested"),
        F.sum("blob_bytes").cast("bigint").alias("bytes_retained"),
    )


ORACLES["multimodal_blob_dedup"] = f"""
WITH staged AS (
  SELECT i, (SELECT text FROM documents WHERE doc_id = i % {BLOB_N_UNIQUE}) AS text
  FROM unnest(generate_series(0, {BLOB_N_FILES - 1})) AS t(i)
),
per_blob AS (
  SELECT md5(text) AS digest, COUNT(*) AS n_copies,
         MIN(octet_length(encode(text))) AS blob_bytes
  FROM staged GROUP BY 1
)
SELECT CAST(SUM(n_copies) AS BIGINT) AS n_files,
       COUNT(*) AS n_unique_blobs,
       CAST(SUM(n_copies * blob_bytes) AS BIGINT) AS bytes_ingested,
       CAST(SUM(blob_bytes) AS BIGINT) AS bytes_retained
FROM per_blob
"""


PHASH_SIDE = 8  # perceptual hash grid → 64-bit hash
PHASH_CANVAS = 64  # stub decode: fixed 64×64 canvas
PHASH_MAX_HAMMING = 3
PHASH_BANDS = 4  # pigeonhole: dist ≤ 3 ⇒ ≥1 of 4 16-bit bands equal


def make_phash(side: int, canvas: int):
    """Per-Arrow-batch difference-hash (dHash) computer (closure,
    shipped by value): payload bytes TILED across a fixed
    canvas×canvas uint8 grid (np.resize cycles the content — the
    codec-free decode stand-in; zero-padding instead would let the
    pad dominate the hash and collapse every small asset to one
    bucket), block-mean-pooled to side×(side+1), then bit =
    pooled[r,c] > pooled[r,c+1] — the row-gradient form, which is
    markedly more discriminative than a global-mean threshold on
    low-contrast content. One 64-bit perceptual hash per asset. A
    real deployment swaps the tiling for PIL decode + DCT (pHash
    proper); the Spark-side contract — binary in, int64 hash out —
    is identical."""

    def phash(batches):
        import numpy as np
        import pandas as pd

        cols = side + 1
        block_r, block_c = canvas // side, canvas // cols
        use_c = block_c * cols
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = np.frombuffer(bytes(payload), dtype=np.uint8)
                if data.size == 0:
                    data = np.zeros(1, dtype=np.uint8)
                img = np.resize(data, (canvas, canvas))
                pooled = (
                    img[:, :use_c]
                    .reshape(side, block_r, cols, block_c)
                    .mean(axis=(1, 3))
                )
                bits = (pooled[:, :-1] > pooled[:, 1:]).astype(np.uint64).ravel()
                h = np.uint64(0)
                for b in bits:
                    h = (h << np.uint64(1)) | b
                out.append({"doc_id": int(doc_id), "phash": int(h.astype(np.int64))})
            yield pd.DataFrame(out, columns=["doc_id", "phash"])

    return phash


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T63 — perceptual-hash near-duplicate detection for media
    assets: the visual twin of T3's SimHash. Each binary payload gets
    a 64-bit average-hash (mapInPandas, Arrow batches, numpy
    pooling — no Python pixel loops), and near-duplicate pairs
    (hamming ≤ 3) are found WITHOUT an all-pairs scan: the hash
    splits into 4 16-bit bands, the pigeonhole principle guarantees
    any pair within distance 3 agrees on ≥1 band, so candidates come
    from 4 band-equality self-joins (shuffle keyed on 16-bit band
    values) and only candidates pay the exact bit_count(xor) check —
    the T2/T3 banding discipline applied to image content. Output:
    near-dup pairs with their hamming distance. (Rows-only: the
    pooled-bits hash has no SQL twin; the unit test pins golden
    hashes on literal grids and a planted near-dup pair.)"""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs)
    hashed = media.select("doc_id", "payload").mapInPandas(
        make_phash(PHASH_SIDE, PHASH_CANVAS), schema="doc_id bigint, phash bigint"
    )
    # Cluster-level accounting, NOT materialized doc pairs: grouping
    # first collapses every exact-hash cluster to ONE row (n_docs +
    # keeper), so the band self-join runs over DISTINCT hashes —
    # at corpus scale that's |unique images|, and a mirror-heavy
    # crawl's quadratic within-cluster pair set is never emitted
    # (the same reason T1 reports groups, not pairs).
    clusters = (
        hashed.groupBy("phash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .persist()
    )
    bands = clusters.select(
        "phash",
        "n_docs",
        "keeper_doc",
        *[
            F.shiftrightunsigned(F.col("phash"), 16 * i)
            .bitwiseAND(F.lit(0xFFFF))
            .alias(f"b{i}")
            for i in range(PHASH_BANDS)
        ],
    )
    cand = None
    for i in range(PHASH_BANDS):
        left = bands.select(
            F.col("phash").alias("ph_a"),
            F.col("n_docs").alias("n_a"),
            F.col("keeper_doc").alias("keeper_a"),
            F.col(f"b{i}").alias("bk"),
        )
        right = bands.select(
            F.col("phash").alias("ph_b"),
            F.col("n_docs").alias("n_b"),
            F.col("keeper_doc").alias("keeper_b"),
            F.col(f"b{i}").alias("bk"),
        )
        pairs_i = left.join(right, "bk").filter(F.col("ph_a") <= F.col("ph_b"))
        cand = pairs_i if cand is None else cand.unionByName(pairs_i)
    result = (
        cand.select(
            "keeper_a",
            "keeper_b",
            "n_a",
            "n_b",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
            .cast("int")
            .alias("hamming"),
            # duplicate assets this (near-)match would retire: within
            # one cluster all-but-keeper; across clusters the smaller
            # side folds into the larger.
            F.when(F.col("ph_a") == F.col("ph_b"), F.col("n_a") - 1)
            .otherwise(F.least("n_a", "n_b"))
            .alias("n_foldable"),
        )
        .filter(
            (F.col("hamming") <= PHASH_MAX_HAMMING)
            & ((F.col("keeper_a") != F.col("keeper_b")) | (F.col("n_a") > 1))
        )
        .distinct()
    )
    # NOTE: `clusters` stays persisted for the life of the returned
    # plan (the 4 band joins reference it); callers that loop this
    # operator should spark.catalog.clearCache() between reps — the
    # same contract bench.py applies to the LSH chain.
    return result.orderBy("keeper_a", "keeper_b")


def _phash_oracle_sql() -> str:
    """DuckDB twin of multimodal_phash_dedup: replays the dHash from
    hex(encode(text)) — np.resize tiling = byte[(i*64+j) % len],
    block means compare as exact integer block SUMS (both sides
    divide by the same positive constant, so sum>sum ⟺ mean>mean
    with no float in the loop), the 64-bit pack uses signed weights
    (MSB weight = -2^63: the int64 two's-complement value directly),
    and the 4 pigeonhole band joins + hamming filter mirror the
    Spark plan clause-for-clause."""
    side, canvas = PHASH_SIDE, PHASH_CANVAS
    cols = side + 1
    block_r, block_c = canvas // side, canvas // cols
    use_c = block_c * cols
    pw_rows = []
    for k in range(side * side):
        bitpos = side * side - 1 - k
        swgt = -(1 << 63) if bitpos == 63 else (1 << bitpos)
        bw = [0] * PHASH_BANDS
        bw[bitpos // 16] = 1 << (bitpos % 16)
        pw_rows.append(f"({k}, {swgt}, {', '.join(map(str, bw))})")
    pw_values = ",\n    ".join(pw_rows)
    band_cols = ", ".join(f"b{i}" for i in range(PHASH_BANDS))
    band_sums = ",\n         ".join(
        f"CAST(SUM(b.bit * pw.b{i}w) AS BIGINT) AS b{i}" for i in range(PHASH_BANDS)
    )
    band_joins = "\n  UNION ALL\n  ".join(
        f"""SELECT x.phash AS ph_a, x.n_docs AS n_a, x.keeper_doc AS keeper_a,
         y.phash AS ph_b, y.n_docs AS n_b, y.keeper_doc AS keeper_b
  FROM clusters x JOIN clusters y ON x.b{i} = y.b{i} AND x.phash <= y.phash"""
        for i in range(PHASH_BANDS)
    )
    bw_cols = ", ".join(f"b{i}w" for i in range(PHASH_BANDS))
    return f"""
WITH media AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS len
  FROM documents
),
cell AS (
  SELECT m.doc_id, (t.k // {canvas}) // {block_r} AS r, (t.k % {canvas}) // {block_c} AS c,
         CASE WHEN m.len = 0 THEN 0
              ELSE CAST(concat('0x', substr(m.hx, 2 * (t.k % m.len) + 1, 2)) AS BIGINT)
         END AS val
  FROM media m, unnest(generate_series(0, {canvas * canvas - 1})) AS t(k)
  WHERE (t.k % {canvas}) < {use_c}
),
blocks AS (SELECT doc_id, r, c, SUM(val) AS s FROM cell GROUP BY 1, 2, 3),
bits AS (
  SELECT doc_id, r * {side} + c AS k,
         CASE WHEN s > LEAD(s) OVER (PARTITION BY doc_id, r ORDER BY c)
              THEN 1 ELSE 0 END AS bit
  FROM blocks
  QUALIFY c < {side}
),
pw(k, swgt, {bw_cols}) AS (
  VALUES
    {pw_values}
),
hashes AS (
  SELECT b.doc_id,
         CAST(SUM(b.bit * pw.swgt) AS BIGINT) AS phash,
         {band_sums}
  FROM bits b JOIN pw ON pw.k = b.k
  GROUP BY 1
),
clusters AS (
  SELECT phash, {band_cols}, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc
  FROM hashes GROUP BY ALL
),
cand AS (
  {band_joins}
)
SELECT DISTINCT keeper_a, keeper_b, n_a, n_b,
       CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming,
       CAST(CASE WHEN ph_a = ph_b THEN n_a - 1 ELSE LEAST(n_a, n_b) END AS BIGINT) AS n_foldable
FROM cand
WHERE bit_count(xor(ph_a, ph_b)) <= {PHASH_MAX_HAMMING}
  AND (keeper_a <> keeper_b OR n_a > 1)
"""


ORACLES["multimodal_phash_dedup"] = _phash_oracle_sql()


SCENE_FRAME_BYTES = 256
SCENE_CUT_THRESHOLD = 12.0  # mean-intensity jump that counts as a cut


def make_scene_detector(frame_bytes: int, threshold: float):
    """Per-Arrow-batch scene-cut detector (closure, shipped by
    value): payload split into fixed 'frames', per-frame mean
    intensity (numpy, one reshape — no Python pixel loops), a cut
    wherever consecutive means jump by more than ``threshold`` —
    the shot-boundary heuristic every video curation pipeline runs
    before sampling one keyframe per shot. A real deployment swaps
    the byte frames for decoded luma planes; the contract (binary
    in, per-asset cut summary out) is identical."""

    def detect(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_frames = (data.size + frame_bytes - 1) // frame_bytes
                padded = np.zeros(n_frames * frame_bytes, dtype=np.uint8)
                padded[: data.size] = data
                means = padded.reshape(n_frames, frame_bytes).mean(axis=1)
                jumps = np.abs(np.diff(means))
                cuts = np.flatnonzero(jumps > threshold) + 1
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "n_frames": int(n_frames),
                        "n_cuts": int(cuts.size),
                        "cut_checksum": int(cuts.sum()),
                    }
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_frames", "n_cuts", "cut_checksum"]
            )

    return detect


def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T67 — scene-change detection plumbing: per asset, frame-mean
    intensity series → cut count + cut-index checksum (the summary a
    keyframe sampler consumes). Arrow-batched mapInPandas, numpy
    vectorized, partitioning untouched. Value-oracled: the stub
    payload is the utf-8 text bytes, so DuckDB recomputes the frame
    means byte-for-byte from hex(encode(text)) — frame sums are exact
    integers, /256.0 is a power-of-two division, so the float means
    and the >threshold cuts are bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs)
    return media.select("doc_id", "payload").mapInPandas(
        make_scene_detector(SCENE_FRAME_BYTES, SCENE_CUT_THRESHOLD),
        schema="doc_id bigint, n_frames bigint, n_cuts bigint, cut_checksum bigint",
    )


# cuts = frame indices whose mean jumps >threshold vs the PREVIOUS
# frame (numpy: flatnonzero(|diff|>t)+1 — the +1 is the LAG form).
# The last frame is zero-PADDED to 256 bytes, so its SUM/256.0 mean
# matches numpy's padded reshape exactly.
ORACLES["multimodal_scene_cuts"] = f"""
WITH media AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS len
  FROM documents
),
bytes AS (
  SELECT doc_id, (t.p - 1) // {SCENE_FRAME_BYTES} AS frame_idx,
         CAST(concat('0x', substr(hx, 2 * t.p - 1, 2)) AS BIGINT) AS val
  FROM media, unnest(generate_series(1, len)) AS t(p)
),
frames AS (
  SELECT doc_id, frame_idx, SUM(val) / {SCENE_FRAME_BYTES}.0 AS m
  FROM bytes GROUP BY 1, 2
),
jumps AS (
  SELECT doc_id, frame_idx,
         ABS(m - LAG(m) OVER (PARTITION BY doc_id ORDER BY frame_idx)) AS jump
  FROM frames
),
cuts AS (
  SELECT doc_id,
         COUNT(CASE WHEN jump > {SCENE_CUT_THRESHOLD} THEN 1 END) AS n_cuts,
         CAST(COALESCE(SUM(CASE WHEN jump > {SCENE_CUT_THRESHOLD} THEN frame_idx END), 0) AS BIGINT) AS cut_checksum
  FROM jumps GROUP BY 1
)
SELECT m.doc_id,
       CAST((m.len + {SCENE_FRAME_BYTES - 1}) // {SCENE_FRAME_BYTES} AS BIGINT) AS n_frames,
       COALESCE(c.n_cuts, 0) AS n_cuts,
       COALESCE(c.cut_checksum, 0) AS cut_checksum
FROM media m LEFT JOIN cuts c ON c.doc_id = m.doc_id
"""


QUERIES = {
    "multimodal_scene_cuts": multimodal_scene_cuts,
    "multimodal_phash_dedup": multimodal_phash_dedup,
    "multimodal_features": multimodal_features,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_audio_energy": multimodal_audio_energy,
    "multimodal_image_resize": multimodal_image_resize,
    "multimodal_blob_dedup": multimodal_blob_dedup,
}
